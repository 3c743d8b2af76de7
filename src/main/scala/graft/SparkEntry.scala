package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.{ConvertApp, MSTable, MSWrite, ReadSpec}
import graft.expr.{ComplexFns, Expressions, Taql}
import graft.ops.{AsOfJoin, Blocklist, Bpe, Dedup, Fuzzy, Graph, Multimodal, Pca, Sampling, Sft, Similarity, Sketches, TextAnalysis, UnigramLm, WordPiece}
import graft.streaming.EventStream

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-data-pipeline extensions), each with a DuckDB
  * oracle in `oracleSql` where SQL-expressible.
  *
  * Determinism conventions (both sides of every oracle pair):
  *  - every result is totally ordered by a unique column set
  *  - computed doubles are `round(x, n)`; stored doubles pass through raw
  *  - counts/sums of integers are cast to BIGINT on the DuckDB side to
  *    match Spark's LongType
  *  - timestamps/dates are formatted to strings (no arrow-type skew)
  */
object SparkEntry {

  /** Deterministic k-word line structure over the single-line synthetic
    * corpus — ONE definition shared by `q_dedup_lines` and the corpus-
    * assembly integration test, so the oracle-checked query and the
    * integration pipe exercise the same line build.
    */
  private[graft] def syntheticLines(docs: DataFrame,
                                    wordsPerLine: Int): DataFrame = {
    val arr = filter(split(trim(col("text")), "\\s+"), w => length(w) > 0)
    val nl = ceil(size(arr) / lit(wordsPerLine.toDouble)).cast("int")
    val lines = transform(sequence(lit(0), greatest(nl, lit(1)) - 1),
      i => array_join(slice(arr, i * wordsPerLine + 1, lit(wordsPerLine)), " "))
    docs.select(col("doc_id"), array_join(lines, "\n").as("text"))
  }

  /** [[syntheticLines]] further shaped into paragraphs: lines of
    * `wordsPerLine` words grouped `linesPerPara` at a time, single
    * newlines inside a paragraph, a blank line between paragraphs — the
    * layout the Gopher duplicate line/paragraph signals are defined over.
    */
  private[graft] def syntheticParagraphs(docs: DataFrame, wordsPerLine: Int,
                                         linesPerPara: Int): DataFrame = {
    // each derived array is materialized as a column so the next level
    // references an attribute, not a re-inlined copy of the whole
    // nested-HOF subtree (see TextAnalysis.dupSegmentMetrics)
    val arr = filter(split(trim(col("text")), "\\s+"), w => length(w) > 0)
    docs
      .withColumn("__arr", arr)
      .withColumn("__nl",
        ceil(size(col("__arr")) / lit(wordsPerLine.toDouble)).cast("int"))
      .withColumn("__lines",
        transform(sequence(lit(0), greatest(col("__nl"), lit(1)) - 1), i =>
          array_join(slice(col("__arr"), i * wordsPerLine + 1,
            lit(wordsPerLine)), " ")))
      .withColumn("__np",
        ceil(size(col("__lines")) / lit(linesPerPara.toDouble)).cast("int"))
      .withColumn("__paras",
        transform(sequence(lit(0), greatest(col("__np"), lit(1)) - 1), i =>
          array_join(slice(col("__lines"), i * linesPerPara + 1,
            lit(linesPerPara)), "\n")))
      .select(col("doc_id"), array_join(col("__paras"), "\n\n").as("text"))
  }

  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    // events needs its ts column normalized to session-UTC TimestampType —
    // the physical encoding has varied across testdata generations (see
    // EventStream.normalizeTs for the exact cases handled)
    if (n == "events") EventStream.loadEvents(s, dir)
    else s.read.parquet(s"$dir/$n.parquet")

  /** Unique total order on the synthetic lineitem (verified: the 6-tuple is
    * a key at every scale factor; (l_orderkey, l_linenumber) alone is NOT
    * unique in this data).
    */
  private val liKey = Seq("l_orderkey", "l_linenumber", "l_partkey",
    "l_suppkey", "l_quantity", "l_extendedprice")
  private val liKeySql = liKey.mkString(", ")

  private def tmp(name: String) = s"/root/repo/target/qtmp/$name"

  /** Recall floors for the approximate (ANN / LSH / MinHash) derived
    * checks — set from measured recalls at sf0.001/0.01/0.1 with a wide
    * safety margin. The derived-check queries themselves compute those
    * recalls against the exact baselines (`q_ann_*` via `annRecallCheck`
    * or `n_hit` / `n_tot`; `q_dedup_minhash`, `q_dedup_embed_lsh` and `q_dedup_semantic` via
    * `n_miss` / `n_exact`), and `graft.Verify` writes whether each recall
    * holds its floor. The check is "the approximation holds its quality
    * contract", not a magic number.
    */
  private val IvfRecallFloor = 0.4 // per-query; measured min 0.60 (all SFs)
  private val PqRecallFloor = 0.4 // per-query; measured min 0.80 (all SFs)
  private val PcaPqRecallFloor = 0.2 // per-query; measured min 0.40 (all SFs)
  private val Sq8RecallFloor = 0.5 // per-query; measured 1.0 (255-level codes)
  private val PcaPqIndexRecallFloor = 0.5 // per-query; measured 1.0 (all SFs)
  private val LshRecallFloor = 0.25 // mean over queries; measured ≥ 0.375
  private val MinhashRecallFloor = 0.7 // measured 1.000 at all SFs
  private val EmbedLshRecallFloor = 0.08 // measured 0.136–0.157
  private val SemDedupRecallFloor = 0.25 // measured 0.368–0.530 (all SFs)

  /** Derived-check rows for operators whose internals (xxhash64 MinHash,
    * k-means cells, hyperplane buckets) no SQL oracle can reproduce: the
    * engine must PROVE a deterministic property (exact-subset precision,
    * recall vs the in-engine exact baseline, all-pairs equivalence) and
    * emit it as sorted (metric, ok) rows; the DuckDB oracle is the
    * corresponding constant VALUES list, so the hash only matches if every
    * property actually holds.
    */
  /** Pin a SMALL frame before a derived check fans it into several agg
    * subtrees: without this the expensive upstream pipeline (minhash/LSH/
    * all-pairs) re-executes once per consumer. localCheckpoint also
    * truncates lineage, so the check's cost is the operator + tiny aggs.
    */
  private def pin(df: DataFrame): DataFrame = df.localCheckpoint()

  /** The deterministic synthetic link graph every graph query shares:
    * three affine maps over the documents' doc_id range (in/out degree
    * exactly 3 when ids are contiguous). Returns (nodes, edges) with
    * edges (src, dst); the matching oracle CTE appears verbatim in each
    * graph query's SQL.
    */
  private def mapGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val nodes = T(s, dir, "documents")
      .select(col("doc_id").cast("long").as("node"))
    val nMod = nodes.count()
    val edges = Seq((7L, 3L), (13L, 5L), (29L, 11L)).map { case (k, c) =>
      nodes.select(col("node").as("src"),
        ((col("node") * k + c) % nMod).as("dst"))
    }.reduce(_ unionByName _)
    (nodes, edges)
  }

  /** [[mapGraph]] plus the 6-clique supplement the triangle-family
    * queries pin non-trivial counts with. */
  private def mapGraphWithClique(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val clique = (for (i <- 0L until 6L; j <- (i + 1) until 6L)
      yield (i, j)).toDF("src", "dst")
    mapGraph(s, dir)._2.unionByName(clique)
  }

  /** The deliberately MULTI-component graph the components query uses
    * (the 3-map graph is one giant component — useless for this test):
    * chains inside each doc_id residue class mod 7 (node → node+7), plus
    * two bridges (0,1) and (2,3) merging four of the classes pairwise —
    * five components with minima 0, 2, 4, 5, 6. */
  private def componentGraph(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nodes = T(s, dir, "documents")
      .select(col("doc_id").cast("long").as("node"))
    val nMod = nodes.count()
    nodes.filter(col("node") + 7 < nMod)
      .select(col("node").as("src"), (col("node") + lit(7L)).as("dst"))
      .unionByName(Seq((0L, 1L), (2L, 3L)).toDF("src", "dst"))
  }

  /** The block-community graph the LPA query uses: doc_ids in blocks of
    * 10, each block a star around its center (10B → 10B+j), consecutive
    * blocks tied by ONE leaf-leaf bridge (10B+9, 10B+11) — real
    * community structure with a deliberate one-node leak at each bridge
    * endpoint, so the fixpoint is non-trivial but fully deterministic.
    */
  private def communityGraph(s: SparkSession, dir: String): DataFrame = {
    val nodes = T(s, dir, "documents")
      .select(col("doc_id").cast("long").as("node"))
    val nMod = nodes.count()
    val stars = nodes.filter(col("node") % 10 =!= 0)
      .select((col("node") - (col("node") % 10)).as("src"),
        col("node").as("dst"))
    val bridges = nodes.filter(col("node") % 10 === 9 &&
        col("node") + 2 < nMod)
      .select(col("node").as("src"), (col("node") + 2).as("dst"))
    stars.unionByName(bridges)
  }

  /** The q_communities oracle: the SAME deterministic LPA rule unrolled
    * to `iters` chained-CTE rounds (closed-adjacency vote counts, then a
    * (count desc, label asc) window argmax). The engine early-stops at
    * the labels' fixpoint, which further unrolled rounds leave unchanged
    * by construction — so a fixed-depth replay matches an early-stopped
    * run exactly.
    */
  private def lpaOracleCtes(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT a.z, l${i - 1}.label AS nl, count(*) AS c
         |  FROM adj a JOIN l${i - 1} ON a.n = l${i - 1}.node GROUP BY 1, 2),
         |l$i AS (
         |  SELECT z AS node, nl AS label FROM (
         |    SELECT z, nl,
         |      row_number() OVER (PARTITION BY z ORDER BY c DESC, nl) AS rn
         |    FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS node FROM documents),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
       |raw AS (
       |  SELECT (node // 10) * 10 AS a, node AS b FROM docs
       |  WHERE node % 10 <> 0
       |  UNION ALL
       |  SELECT node AS a, node + 2 AS b FROM docs
       |  WHERE node % 10 = 9 AND node + 2 < (SELECT n FROM nn)),
       |nodes AS (SELECT a AS node FROM raw UNION SELECT b FROM raw),
       |adj AS (
       |  SELECT a AS z, b AS n FROM raw
       |  UNION SELECT b, a FROM raw
       |  UNION SELECT node, node FROM nodes),
       |l0 AS (SELECT node, node AS label FROM nodes),
       |$steps""".stripMargin
  }

  private def lpaOracleSql(iters: Int): String =
    s"""${lpaOracleCtes(iters)}
       |SELECT node, label FROM l$iters ORDER BY node""".stripMargin

  /** q_modularity's oracle: the LPA replay's labeling fed through the
    * Newman per-community decomposition on the same edge CTEs. */
  private def modularityOracleSql(iters: Int): String =
    s"""${lpaOracleCtes(iters)},
       |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
       |      FROM raw WHERE a <> b),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
       |degs AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT u AS node FROM e UNION ALL SELECT v FROM e
       |  ) GROUP BY 1),
       |lab AS (SELECT node, label FROM l$iters),
       |dsum AS (
       |  SELECT lab.label AS community,
       |    CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(degs.deg) AS BIGINT) AS degree_sum
       |  FROM degs JOIN lab USING (node) GROUP BY 1),
       |intra AS (
       |  SELECT la.label AS community,
       |    CAST(count(*) AS BIGINT) AS internal_edges
       |  FROM e JOIN lab la ON la.node = e.u
       |         JOIN lab lb ON lb.node = e.v
       |  WHERE la.label = lb.label GROUP BY 1)
       |SELECT d.community, d.n_nodes,
       |  coalesce(i.internal_edges, 0) AS internal_edges, d.degree_sum,
       |  round(CAST(coalesce(i.internal_edges, 0) AS DOUBLE) / mm.m
       |    - pow(CAST(d.degree_sum AS DOUBLE) / (2.0 * mm.m), 2), 6)
       |    AS q_contrib
       |FROM dsum d LEFT JOIN intra i USING (community), mm
       |ORDER BY d.community""".stripMargin

  /** THE shared curation recipe — `q_curation_e2e` certifies it stage
    * by stage and `q_pretrain_e2e` composes it into the binary sinks;
    * one definition so the two e2e gates can never tune apart (the
    * scoredQualityHoldout discipline). Returns (bench, c0, c2, c3, c4,
    * curated): the held-out benchmark split, the raw corpus, the
    * quality/langid gate output, exact-dedup output, near-dup output,
    * and the decontaminated final frame (pinned).
    */
  private def curatedCorpus(s: SparkSession, dir: String): (DataFrame,
      DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = T(s, dir, "documents")
    val bench = docs.filter(col("doc_id") % 31 === 0)
      .select(col("doc_id"), col("text"))
    val c0 = docs.filter(col("doc_id") % 31 =!= 0)
    val c1 = c0.withColumn("text", TextAnalysis.normalizeText(col("text")))
    val c2 = c1.filter(TextAnalysis.qualityScore(col("text")) >= 0.2 &&
      TextAnalysis.langId(col("text")) =!= "und")
    val c3 = Dedup.exactKeepFirst(c2, "text", "doc_id")
    val pairs = Dedup.minHashDedup(c3, "text", "doc_id", threshold = 0.7)
    val c4 = Dedup.keepRepresentatives(c3, pairs, "doc_id",
      length(col("text")))
    val curated = pin(Dedup.decontaminateBloomKeep(c4, bench, "text",
      "doc_id", n = 4, fpp = 1e-6))
    (bench, c0, c2, c3, c4, curated)
  }

  /** Synthetic scored-response frame for the DPO queries: 10 candidate
    * responses per prompt with a deterministic integer-arithmetic score
    * the oracle replays verbatim. */
  private def dpoResponses(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").select(
      (col("doc_id").cast("long") % 50).as("prompt"),
      col("doc_id").cast("long").as("rid"),
      col("text"),
      ((col("doc_id").cast("long") * 37) % 97).cast("double").as("score"))

  /** THE distilled quality filter both q_quality_clf and q_eval_e2e
    * evaluate — one definition so the e2e pipeline can never drift from
    * the filter the gate checks: stopword-ratio median labeling (null
    * text labels 0 rather than null-propagating into the eval leg's
    * refusals), 0.8 md5 train/holdout split, hashed LR at 2^12 buckets
    * / 300 iterations. Returns the SCORED HOLDOUT (doc_id, source,
    * label, p), checkpointed — every downstream eval leg reads the
    * same materialized frame.
    */
  private def scoredQualityHoldout(s: SparkSession,
                                   dir: String): DataFrame = {
    val docs = T(s, dir, "documents").withColumn("__r",
      coalesce(TextAnalysis.stopwordRatio(col("text")), lit(0.0)))
    val med = docs.agg(expr("percentile(__r, 0.5)")).head().getDouble(0)
    val labeled = docs.withColumn("label", (col("__r") > med).cast("int"))
    val train = labeled.filter(
      Sampling.hashBucket(col("doc_id")) < lit(Sampling.thresholdHex(0.8)))
    val hold = labeled.filter(
      Sampling.hashBucket(col("doc_id")) >= lit(Sampling.thresholdHex(0.8)))
    val model = ops.Classifier.trainHashedLR(train, "text", "label",
      buckets = 1 << 12, iters = 300, lr = 1.0)
    ops.Classifier.scoreHashedLR(hold, "text", model)
      .select(col("doc_id"), col("source"), col("label"),
        col("quality_score").as("p"))
      .localCheckpoint()
  }

  /** Synthetic arena battles for the Bradley–Terry query: each doc row
    * yields one battle between models (doc_id % 12) and
    * (doc_id·7+3 % 12) with the winner picked by the same doc_id·37
    * mod 97 parity the DPO score uses — pure id arithmetic the oracle
    * replays verbatim. */
  private def arenaBattles(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
      .select(col("doc_id").cast("long").as("id"))
      .select(
        (col("id") % 12).as("a"),
        ((col("id") * 7 + 3) % 12).as("b"),
        (((col("id") * 37) % 97) % 2 === 0).as("a_wins"))
      .filter(col("a") =!= col("b"))
    d.select(
      when(col("a_wins"), col("a")).otherwise(col("b"))
        .cast("string").as("winner"),
      when(col("a_wins"), col("b")).otherwise(col("a"))
        .cast("string").as("loser"))
  }

  /** q_bradley_terry's oracle: the same fixed-iteration MM trajectory
    * unrolled as chained CTEs — pair counts, symmetric battle counts,
    * then per round one denominator join (skipping zero-strength
    * pairs, the engine's guard), the W/den update, and the
    * normalize-then-round(9) pin that makes both trajectories
    * bit-identical (the lpaOracleSql discipline). */
  private def bradleyTerryOracleSql(iters: Int): String = {
    // every p{i} is referenced twice by round i+1 — MATERIALIZED keeps
    // DuckDB from inlining the whole chain exponentially
    val steps = (1 to iters).map { i =>
      s"""d$i AS (
         |  SELECT nb.a AS model, sum(nb.n / (pa.pi + pb.pi)) AS den
         |  FROM nb JOIN p${i - 1} pa ON pa.model = nb.a
         |          JOIN p${i - 1} pb ON pb.model = nb.b
         |  WHERE pa.pi + pb.pi > 0 GROUP BY 1),
         |r$i AS (
         |  SELECT w.model,
         |    CASE WHEN coalesce(d.den, 0) > 0 THEN w.w / d.den
         |         ELSE 0.0 END AS raw
         |  FROM wins w LEFT JOIN d$i d USING (model)),
         |p$i AS MATERIALIZED (
         |  SELECT model,
         |    CASE WHEN s > 0 THEN round(raw / s, 9) ELSE raw END AS pi
         |  FROM (SELECT model, raw, sum(raw) OVER () AS s FROM r$i))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
       |arena AS (
       |  SELECT id % 12 AS a, (id * 7 + 3) % 12 AS b,
       |         ((id * 37) % 97) % 2 = 0 AS awins
       |  FROM ids WHERE id % 12 <> (id * 7 + 3) % 12),
       |battles AS (
       |  SELECT CAST(CASE WHEN awins THEN a ELSE b END AS VARCHAR) AS w,
       |         CAST(CASE WHEN awins THEN b ELSE a END AS VARCHAR) AS l
       |  FROM arena),
       |pc AS (SELECT w, l, count(*) AS n FROM battles GROUP BY 1, 2),
       |models AS (SELECT w AS model FROM pc UNION SELECT l FROM pc),
       |nm AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM models),
       |nb AS (
       |  SELECT a, b, sum(n) AS n FROM (
       |    SELECT w AS a, l AS b, n FROM pc
       |    UNION ALL SELECT l, w, n FROM pc) GROUP BY 1, 2),
       |wins AS (
       |  SELECT m.model, CAST(coalesce(sum(pc.n), 0) AS DOUBLE) AS w
       |  FROM models m LEFT JOIN pc ON pc.w = m.model GROUP BY 1),
       |p0 AS (SELECT model, 1.0 / (SELECT k FROM nm) AS pi FROM models),
       |$steps
       |SELECT m.model, round(p.pi, 6) AS strength,
       |  CAST(w.w AS BIGINT) AS wins,
       |  CAST((SELECT sum(nb.n) FROM nb WHERE nb.a = m.model) AS BIGINT)
       |    AS battles
       |FROM models m JOIN p$iters p USING (model) JOIN wins w USING (model)
       |ORDER BY m.model""".stripMargin
  }

  /** q_elo's oracle: the sequential Elo fold unrolled one chained CTE
    * per battle (each e{i} is referenced twice by step i+1, hence
    * MATERIALIZED — the bradleyTerryOracleSql lesson). `steps` may
    * exceed the data's battle count: a step with no battle LEFT-joins
    * to nothing and passes ratings through unchanged, so the unroll
    * depth only needs to be an upper bound. The expected score is
    * round(9)-pinned on both sides BEFORE the K-scaled update, so the
    * only cross-engine surface is pow(10, x) at a rounding boundary. */
  private def eloOracleSql(steps: Int): String = {
    val chain = (1 to steps).map { i =>
      s"""s$i AS (
         |  SELECT b.w, b.l,
         |    round(1 / (1 + pow(10, (rl.r - rw.r) / 400.0)), 9) AS ew
         |  FROM b JOIN e${i - 1} rw ON rw.model = b.w
         |         JOIN e${i - 1} rl ON rl.model = b.l
         |  WHERE b.step = $i),
         |e$i AS MATERIALIZED (
         |  SELECT e.model,
         |    round(e.r + coalesce(
         |      CASE WHEN e.model = s.w THEN 32.0 * (1 - s.ew)
         |           WHEN e.model = s.l THEN -32.0 * (1 - s.ew)
         |      END, 0.0), 9) AS r
         |  FROM e${i - 1} e LEFT JOIN s$i s ON true)""".stripMargin
    }.mkString(",\n")
    s"""WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
       |arena AS (
       |  SELECT id, id % 12 AS a, (id * 7 + 3) % 12 AS b,
       |         ((id * 37) % 97) % 2 = 0 AS awins
       |  FROM ids
       |  WHERE id % 8 = 0 AND id % 12 <> (id * 7 + 3) % 12),
       |b AS MATERIALIZED (
       |  SELECT CAST(CASE WHEN awins THEN a ELSE b END AS VARCHAR) AS w,
       |         CAST(CASE WHEN awins THEN b ELSE a END AS VARCHAR) AS l,
       |         row_number() OVER (ORDER BY id) AS step
       |  FROM arena),
       |models AS (SELECT w AS model FROM b UNION SELECT l FROM b),
       |e0 AS MATERIALIZED (
       |  SELECT model, CAST(1000.0 AS DOUBLE) AS r FROM models),
       |$chain
       |SELECT m.model, round(e.r, 6) AS rating,
       |  CAST(coalesce(w.wins, 0) AS BIGINT) AS wins,
       |  CAST(coalesce(lo.losses, 0) AS BIGINT) AS losses,
       |  CAST(coalesce(w.wins, 0) + coalesce(lo.losses, 0) AS BIGINT)
       |    AS battles
       |FROM models m JOIN e$steps e USING (model)
       |LEFT JOIN (SELECT w AS model, count(*) AS wins FROM b GROUP BY 1) w
       |  USING (model)
       |LEFT JOIN (SELECT l AS model, count(*) AS losses FROM b GROUP BY 1)
       |  lo USING (model)
       |ORDER BY m.model""".stripMargin
  }

  /** q_betweenness's oracle: truncated Brandes unrolled in SQL on the
    * 3-map graph — forward levels l1..lD as first-discovery sigma sums
    * (NOT EXISTS against every earlier level), backward deltas dD-1..d1
    * with the deepest level's deltas identically 0 (the truncation),
    * bc = the union of the interior levels' deltas. */
  private def betweennessOracleSql(depth: Int): String = {
    val lvls = (1 to depth).map { k =>
      val notExists = (0 until k).map(j =>
        s"NOT EXISTS (SELECT 1 FROM l$j x WHERE x.s = p.s AND x.v = e.v)")
        .mkString("\n    AND ")
      s"""l$k AS (
  SELECT p.s, e.v, sum(p.sigma) AS sigma
  FROM l${k - 1} p JOIN e ON e.u = p.v
  WHERE $notExists
  GROUP BY 1, 2)"""
    }.mkString(",\n")
    val deltas = (depth - 1 to 1 by -1).map { k =>
      val (dw, leftJoin) =
        if (k == depth - 1) ("0.0", "")
        else (s"coalesce(dw.delta, 0.0)",
          s"\n       LEFT JOIN d${k + 1} dw ON dw.s = w.s AND dw.v = w.v")
      s"""d$k AS (
  SELECT c.s, c.v,
    sum(c.sigma / w.sigma * (1 + $dw)) AS delta
  FROM l$k c JOIN e ON e.u = c.v
       JOIN l${k + 1} w ON w.s = c.s AND w.v = e.v$leftJoin
  GROUP BY 1, 2)"""
    }.mkString(",\n")
    val bcUnion = (1 until depth)
      .map(k => s"SELECT v, delta FROM d$k")
      .mkString(" UNION ALL ")
    s"""WITH nodes AS (SELECT CAST(doc_id AS BIGINT) AS node FROM documents),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
raw AS (
  SELECT node AS a, (node*7+3) % (SELECT n FROM nn) AS b FROM nodes
  UNION ALL SELECT node, (node*13+5) % (SELECT n FROM nn) FROM nodes
  UNION ALL SELECT node, (node*29+11) % (SELECT n FROM nn) FROM nodes),
e AS (SELECT DISTINCT a AS u, b AS v FROM raw WHERE a <> b),
l0 AS (SELECT node AS s, node AS v, 1.0 AS sigma FROM nodes),
$lvls,
$deltas,
bc AS (SELECT v, sum(delta) AS b FROM ($bcUnion) GROUP BY 1)
SELECT n.node, round(coalesce(bc.b, 0.0), 6) AS betweenness
FROM nodes n LEFT JOIN bc ON bc.v = n.node ORDER BY n.node"""
  }

  private def checkRows(one: DataFrame, checks: (String, Column)*): DataFrame =
    one.select(explode(array(checks.map { case (n, c) =>
        struct(lit(n).as("metric"), c.as("ok")) }: _*)).as("r"))
      .select(col("r.metric"), col("r.ok"))
      .orderBy("metric")

  private def checksOracle(names: String*): String =
    names.sorted.map(n => s"SELECT '$n' AS metric, true AS ok")
      .mkString("", " UNION ALL ", " ORDER BY metric")

  /** [[ops.Num.erfcc]] replayed operand-for-operand in SQL (DuckDB
    * ships no erf/erfc): the same NR Horner polynomial around one
    * `exp`, for a NONNEGATIVE column reference `x` — so the χ²₁
    * p-values are the identical closed form on both engines.
    */
  private def erfccSql(x: String): String = {
    val t = s"(1.0 / (1.0 + 0.5 * $x))"
    // the Horner chain is FOLDED from the same ops.Num.ErfccCoeffs the
    // scalar and Column forms use — one coefficient source, zero drift
    val horner = ops.Num.ErfccCoeffs.foldRight("0.0")(
      (c, acc) => s"($c + $t * $acc)")
    s"$t * exp(-$x * $x + ${ops.Num.ErfccLead} + $t * $horner)"
  }

  /** [[ops.Num.chi2P]] replayed operand-for-operand in SQL: the exact
    * finite closed form of the χ²_df upper tail at integer df —
    * erfc(√(x/2)) base term for odd df (via [[erfccSql]]) plus an
    * exp·Horner polynomial whose coefficients come from the ONE
    * [[ops.Num.chi2Coeffs]] source the scalar and Column forms fold
    * from. `x` must be a nonnegative double expression.
    */
  private def chi2PSql(x: String, df: Int): String = {
    val cs = ops.Num.chi2Coeffs(df)
    val u = s"($x / 2.0)"
    val horner = cs.foldRight("0.0")((c, acc) => s"($c + $u * $acc)")
    val poly =
      if (df % 2 == 0) s"exp(-$u) * $horner"
      else if (cs.isEmpty) "0.0"
      else s"exp(-$u) * sqrt($u) * $horner"
    val base = if (df % 2 == 1) erfccSql(s"sqrt($u)") else "0.0"
    s"least(1.0, $base + $poly)"
  }

  /** McNemar's continuity-corrected χ² over a relation exposing the
    * discordant counts as `bb`/`cc` — ONE SQL source for the three
    * oracles that replay it (q_mcnemar, q_stream_ab, q_ab_report), so
    * a fix to the statistic cannot land in one gate and not its twins.
    */
  private def mcnemarStatSql: String =
    "CASE WHEN bb + cc = 0 THEN 0.0 " +
      "ELSE (abs(bb - cc) - 1.0) * (abs(bb - cc) - 1.0) / (bb + cc) END"

  /** The batch-CUPED pivot + formula CTE chain (through `pp`, which
    * carries every intermediate column via SELECT *) — expects an
    * upstream CTE `ag(arm, n, sy, sx, syy, sxx, sxy)` of per-arm
    * power sums (arms 'arm0'/'arm1'). Shared VERBATIM by q_cuped
    * (row-level), q_cuped_unit (unit-total pre-fold), and the
    * q_ab_e2e composed report — one SQL source, the
    * [[deLongCtesSql]] discipline, so the gates cannot drift.
    */
  private def cupedCtesSql: String =
    s"""pv AS (
      |  SELECT
      |    max(CASE WHEN arm = 'arm0' THEN n END) AS na,
      |    max(CASE WHEN arm = 'arm1' THEN n END) AS nb,
      |    max(CASE WHEN arm = 'arm0' THEN sy END) AS sya,
      |    max(CASE WHEN arm = 'arm1' THEN sy END) AS syb,
      |    max(CASE WHEN arm = 'arm0' THEN sx END) AS sxa,
      |    max(CASE WHEN arm = 'arm1' THEN sx END) AS sxb,
      |    max(CASE WHEN arm = 'arm0' THEN syy END) AS syya,
      |    max(CASE WHEN arm = 'arm1' THEN syy END) AS syyb,
      |    max(CASE WHEN arm = 'arm0' THEN sxx END) AS sxxa,
      |    max(CASE WHEN arm = 'arm1' THEN sxx END) AS sxxb,
      |    max(CASE WHEN arm = 'arm0' THEN sxy END) AS sxya,
      |    max(CASE WHEN arm = 'arm1' THEN sxy END) AS sxyb
      |  FROM ag),
      |th AS (
      |  SELECT *,
      |    (sxxa + sxxb) - (sxa + sxb) * (sxa + sxb) / (na + nb)
      |      AS vden
      |  FROM pv),
      |t2 AS (
      |  SELECT *,
      |    CASE WHEN vden > 0.0 THEN
      |      ((sxya + sxyb) - (sxa + sxb) * (sya + syb) / (na + nb))
      |        / vden
      |    ELSE 0.0 END AS theta
      |  FROM th),
      |st AS (
      |  SELECT *,
      |    sya / na AS mya, syb / nb AS myb,
      |    sxa / na AS mxa, sxb / nb AS mxb,
      |    (syya - sya * sya / na) / (na - 1.0) AS vya,
      |    (syyb - syb * syb / nb) / (nb - 1.0) AS vyb,
      |    (sxxa - sxa * sxa / na) / (na - 1.0) AS vxa,
      |    (sxxb - sxb * sxb / nb) / (nb - 1.0) AS vxb,
      |    (sxya - sxa * sya / na) / (na - 1.0) AS ca,
      |    (sxyb - sxb * syb / nb) / (nb - 1.0) AS cb
      |  FROM t2),
      |dl AS (
      |  SELECT *,
      |    myb - mya AS delta_raw,
      |    sqrt(greatest(0.0, vya) / na + greatest(0.0, vyb) / nb)
      |      AS se_raw,
      |    (myb - mya) - theta * (mxb - mxa) AS delta,
      |    greatest(0.0, vya - 2.0 * theta * ca
      |      + theta * theta * vxa) AS s2a,
      |    greatest(0.0, vyb - 2.0 * theta * cb
      |      + theta * theta * vxb) AS s2b
      |  FROM st),
      |se1 AS (
      |  SELECT *, sqrt(s2a / na + s2b / nb) AS se FROM dl),
      |zz AS (
      |  SELECT *, CASE WHEN se > 0.0 THEN delta / se ELSE 0.0 END
      |    AS z
      |  FROM se1),
      |px AS (SELECT *, abs(z) / sqrt(2.0) AS xq FROM zz),
      |pp AS (
      |  SELECT *,
      |    round(CASE WHEN se > 0.0 THEN
      |        least(1.0, ${erfccSql("xq")})
      |      WHEN delta = 0.0 THEN 1.0 ELSE 0.0 END, 9) AS p
      |  FROM px)""".stripMargin

  /** The one-row report SELECT over [[cupedCtesSql]]'s `pp` — the
    * q_cuped / q_cuped_unit output shape. */
  private def cupedFinalSql: String =
    """SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  round(theta, 9) AS theta,
      |  round(delta_raw, 9) AS delta_raw,
      |  round(se_raw, 9) AS se_raw,
      |  round(delta, 9) AS delta, round(se, 9) AS se,
      |  round(z, 9) AS z, p AS p_value,
      |  round(delta - 1.959964 * se, 9) AS ci_lo,
      |  round(delta + 1.959964 * se, 9) AS ci_hi,
      |  round(CASE WHEN se_raw > 0.0 THEN
      |      1.0 - (se * se) / (se_raw * se_raw)
      |    ELSE 0.0 END, 9) AS var_reduction,
      |  (p < 0.05) AS significant
      |FROM pp""".stripMargin

  private def cupedTailSql: String =
    cupedCtesSql + "\n" + cupedFinalSql

  /** The DeLong placement/moment/variance CTE chain — expects an
    * upstream CTE `r(y, va, vb)` (y ∈ {0,1} numeric, va/vb the two
    * models' scores) and emits CTEs ending in `px(np, nn, aA, aB,
    * delta, v, z, xq)`. Shared VERBATIM by the q_delong per-op oracle
    * and the q_ab_report composed oracle — one SQL source so the two
    * gates cannot drift (they were previously hand-kept twins).
    */
  private def deLongCtesSql: String =
    """tot AS (SELECT sum(y) AS np, sum(1 - y) AS nn FROM r),
      |pa2 AS (SELECT va AS v, sum(y) AS npv, sum(1 - y) AS nnv
      |        FROM r GROUP BY 1),
      |ca2 AS (
      |  SELECT v,
      |    coalesce(sum(npv) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cnp,
      |    coalesce(sum(nnv) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cnn,
      |    npv, nnv
      |  FROM pa2),
      |ua AS (
      |  SELECT v, CAST(2.0 * cnn + nnv AS BIGINT) AS u10,
      |    CAST(2.0 * ((SELECT np FROM tot) - cnp - npv) + npv
      |      AS BIGINT) AS u01
      |  FROM ca2),
      |pb2 AS (SELECT vb AS v, sum(y) AS npv, sum(1 - y) AS nnv
      |        FROM r GROUP BY 1),
      |cb2 AS (
      |  SELECT v,
      |    coalesce(sum(npv) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cnp,
      |    coalesce(sum(nnv) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cnn,
      |    npv, nnv
      |  FROM pb2),
      |ub AS (
      |  SELECT v, CAST(2.0 * cnn + nnv AS BIGINT) AS u10,
      |    CAST(2.0 * ((SELECT np FROM tot) - cnp - npv) + npv
      |      AS BIGINT) AS u01
      |  FROM cb2),
      |j AS (
      |  SELECT r.y,
      |    CASE WHEN r.y = 1 THEN ua.u10 ELSE ua.u01 END AS uA,
      |    CASE WHEN r.y = 1 THEN ub.u10 ELSE ub.u01 END AS uB
      |  FROM r JOIN ua ON ua.v = r.va JOIN ub ON ub.v = r.vb),
      |mo AS (
      |  SELECT
      |    CAST(sum(CASE WHEN y = 1 THEN uA END) AS DOUBLE) AS pa1,
      |    CAST(sum(CASE WHEN y = 1 THEN uB END) AS DOUBLE) AS pb1,
      |    CAST(sum(CASE WHEN y = 1 THEN uA * uA END) AS DOUBLE)
      |      AS paa,
      |    CAST(sum(CASE WHEN y = 1 THEN uB * uB END) AS DOUBLE)
      |      AS pbb,
      |    CAST(sum(CASE WHEN y = 1 THEN uA * uB END) AS DOUBLE)
      |      AS pab,
      |    CAST(sum(CASE WHEN y = 0 THEN uA END) AS DOUBLE) AS na1,
      |    CAST(sum(CASE WHEN y = 0 THEN uB END) AS DOUBLE) AS nb1,
      |    CAST(sum(CASE WHEN y = 0 THEN uA * uA END) AS DOUBLE)
      |      AS naa,
      |    CAST(sum(CASE WHEN y = 0 THEN uB * uB END) AS DOUBLE)
      |      AS nbb,
      |    CAST(sum(CASE WHEN y = 0 THEN uA * uB END) AS DOUBLE)
      |      AS nab,
      |    CAST((SELECT np FROM tot) AS DOUBLE) AS np,
      |    CAST((SELECT nn FROM tot) AS DOUBLE) AS nn
      |  FROM j),
      |mm AS (
      |  SELECT *,
      |    pa1 / (2.0 * nn * np) AS aA, pb1 / (2.0 * nn * np) AS aB,
      |    na1 / (2.0 * np * nn) AS bA, nb1 / (2.0 * np * nn) AS bB
      |  FROM mo),
      |vv AS (
      |  SELECT *,
      |    ((paa / (4.0 * nn * nn) - np * aA * aA) / (np - 1.0)
      |     + (pbb / (4.0 * nn * nn) - np * aB * aB) / (np - 1.0)
      |     - 2.0 * ((pab / (4.0 * nn * nn) - np * aA * aB)
      |              / (np - 1.0))) / np
      |    + ((naa / (4.0 * np * np) - nn * bA * bA) / (nn - 1.0)
      |       + (nbb / (4.0 * np * np) - nn * bB * bB) / (nn - 1.0)
      |       - 2.0 * ((nab / (4.0 * np * np) - nn * bA * bB)
      |                / (nn - 1.0))) / nn AS v,
      |    aA - aB AS delta
      |  FROM mm),
      |zz AS (
      |  SELECT *,
      |    CASE WHEN v <= 0.0 THEN 0.0 ELSE delta / sqrt(v) END AS z
      |  FROM vv),
      |px AS (SELECT *, sqrt(z * z / 2.0) AS xq FROM zz)""".stripMargin

  /** Shared shape of the ANN derived checks: per-query recall@5 of an
    * approximate method vs the in-engine brute-force baseline.
    */
  private def annRecallCheck(s: SparkSession, dir: String, floor: Double)
                            (approx: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 8)
    val exact = pin(Similarity.bruteForceTopK(q, emb,
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id")))
    val app = pin(approx(q, emb).select(col("query_id"), col("neighbor_id")))
    val hits = exact.join(app, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    q.select(col("vec_id").cast("long").as("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / 5.0 >= floor).as("recall_ok"))
      .orderBy("query_id")
  }

  // ------------------------------------------------------------------ entry

  /** Flagship: the SURVEY §7.2 spine — partitioned+sorted+filtered read,
    * broadcast subtable lookup join, grouped aggregate — on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val datasets = MSTable.read(spark, s"$dir/lineitem.parquet",
      ReadSpec(groupCols = Seq("l_returnflag"), indexCols = liKey,
        where = Some("l_quantity > 5 && l_discount < 0.07")))
    val joined = datasets.map { ds =>
      ds.withPartitionColumns
        .join(broadcast(T(spark, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(T(spark, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("l_returnflag"), col("n_name"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
    }
    joined.reduce(_ unionByName _).orderBy("l_returnflag", "n_name")
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ===== S1: scan with projection / predicate / order / ROWID ==========
    "q_s1_scan" -> ((s, dir) => {
      val ds = MSTable.read(s, s"$dir/lineitem.parquet",
        ReadSpec(columns = Some(Seq("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice")),
          indexCols = liKey,
          where = Some("l_quantity > 30 && l_discount < 0.03"))).head
      ds.df.select((liKey.map(col) :+ col(MSTable.RowId)): _*)
        .orderBy(MSTable.RowId)
    }),

    // ===== S1/A1/A3: group-partitioned read, attrs re-expanded ===========
    "q_s1_group" -> ((s, dir) => {
      val dss = MSTable.read(s, s"$dir/lineitem.parquet",
        ReadSpec(groupCols = Seq("l_returnflag", "l_linestatus"),
          indexCols = liKey))
      dss.map { ds =>
        ds.withPartitionColumns.groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
      }.reduce(_ unionByName _)
        .select(col("l_returnflag"), col("l_linestatus"), col("n"),
          round(col("sum_qty"), 4).as("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ===== S2: MS-defaults read (FIELD_ID / DATA_DESC_ID grouping) =======
    "q_s2_ms" -> ((s, dir) => {
      val ms = T(s, dir, "events").select(
        (col("user_id") % 2).as("FIELD_ID"),
        (col("event_id") % 3).as("DATA_DESC_ID"),
        col("event_id"), col("value"))
      MSWrite.create(ms, tmp("q_s2_ms"))
      val dss = MSTable.readMs(s, tmp("q_s2_ms"), ReadSpec(indexCols = Seq("event_id")))
      dss.map(_.withPartitionColumns.groupBy("FIELD_ID", "DATA_DESC_ID")
          .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total")))
        .reduce(_ unionByName _)
        .orderBy("FIELD_ID", "DATA_DESC_ID")
    }),

    // ===== S3: storage dispatch + ::SUBTABLE addressing ==================
    "q_s3_dispatch" -> ((s, dir) => {
      MSWrite.create(T(s, dir, "region"), tmp("q_s3_store") + "/REGION")
      MSTable.open(s, tmp("q_s3_store") + "::REGION").orderBy("r_regionkey")
    }),

    // ===== S10: update-by-ROWID (copy-on-write MERGE) ====================
    "q_s10_update" -> ((s, dir) => {
      val base = MSTable.withRowId(T(s, dir, "lineitem"), liKey)
      val delta = base.filter(col("l_returnflag") === "R")
        .select(col(MSTable.RowId), (col("l_quantity") * 2).as("l_quantity"))
      MSWrite.updateByRowId(base, delta)
        .groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 4).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // ANALYZE-style column statistics (exact=true pins the oracle; the
    // default HLL path is the 100 TB one)
    "q_table_stats" -> ((s, dir) =>
      MSTable.tableStats(T(s, dir, "documents"), exact = true)
        .orderBy("column")),

    // table-version diff: version B derives deterministically from the
    // documents table (drops, edits, inserts); the diff must name exactly
    // the keys that changed and how
    "q_table_diff" -> ((s, dir) => {
      val a = T(s, dir, "documents")
      val edited = a.filter(col("doc_id") % 17 =!= 0)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val inserted = a.filter(col("doc_id") % 19 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      MSWrite.diffByKey(a, edited.unionByName(inserted), Seq("doc_id"))
        .orderBy("doc_id")
    }),

    // ===== S11: create + append ==========================================
    "q_s11_append" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      MSWrite.create(li.filter(col("l_returnflag") === "A"), tmp("q_s11"))
      MSWrite.append(li.filter(col("l_returnflag") === "R"), tmp("q_s11"))
      s.read.parquet(tmp("q_s11"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // ===== S13: format conversion (read spec → write spec) ===============
    "q_s13_convert" -> ((s, dir) => {
      ConvertApp.convert(s, ConvertApp.Args(
        input = s"$dir/nation.parquet", output = tmp("q_s13"),
        group = Seq("n_regionkey"), sort = Seq("n_nationkey"),
        where = Some("n_nationkey != 2")))
      s.read.parquet(tmp("q_s13"))
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    }),

    // convert with -f zarr: same pipeline, zarr store out (strings via the
    // json2 object codec), read back through the DSv2 zarr source
    "q_s13_zarr" -> ((s, dir) => {
      ConvertApp.convert(s, ConvertApp.Args(
        input = s"$dir/nation.parquet", output = tmp("q_s13z"),
        sort = Seq("n_nationkey"), where = Some("n_nationkey != 2"),
        format = "zarr"))
      MSTable.open(s, tmp("q_s13z"))
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n"), max("n_name").as("max_name"))
        .orderBy("n_regionkey")
    }),

    // ===== S6/S7: zarr sink + native zarr source =========================
    // parquet → zarr (every supported shape: scalar, complex struct, array)
    // → sniffed + read back through the DSv2 zarr source → aggregate; the
    // oracle computes the same aggregate from the original parquet, so the
    // hash only matches if the store round-trips bit-exact.
    "q_zarr" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"),
        struct(col("l_quantity").as("re"), col("l_discount").as("im")).as("qz"),
        array(col("l_quantity"), col("l_extendedprice")).as("qv"))
      MSWrite.toZarr(li, tmp("q_zarr_store"), rowChunk = 4096, overwrite = true)
      MSTable.open(s, tmp("q_zarr_store")) // .zgroup sniff → zarr source
        .groupBy("l_linenumber")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum(col("qz.im")), 4).as("sum_disc"),
          round(sum(element_at(col("qv"), 2)), 2).as("sum_price"),
          // string column round-trips through the json2 object codec
          max("l_returnflag").as("max_flag"),
          count_distinct(col("l_returnflag")).as("n_flags"))
        .orderBy("l_linenumber")
    }),

    // ===== S14: keyword/metadata sidecars ================================
    "q_s14_keywords" -> ((s, dir) => {
      import s.implicits._
      val n = T(s, dir, "nation").count()
      MSWrite.create(T(s, dir, "nation"), tmp("q_s14"))
      MSWrite.putKeywords(s, tmp("q_s14"), Map("rows" -> n.toString, "table" -> "nation"))
      MSWrite.readKeywords(s, tmp("q_s14")).toSeq.toDF("key", "value").orderBy("key")
    }),

    // ===== P1: projection =================================================
    "q_p1_project" -> ((s, dir) =>
      T(s, dir, "lineitem").select(liKey.map(col): _*).orderBy(liKey.map(col): _*)),

    // ===== P2: TAQL predicate pushdown ===================================
    "q_p2_taql" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .filter(expr(Taql.toSql(
          "(l_returnflag == 'A' || l_returnflag == 'R') && l_quantity >= 45" +
            " && l_suppkey IN [1,2,3,4,5] && !(l_discount > 0.05)")))
        .select(liKey.map(col) :+ col("l_returnflag"): _*)
        .orderBy(liKey.map(col): _*)),

    // ===== P3: drop columns ==============================================
    "q_p3_drop" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .drop("l_shipdate", "l_returnflag", "l_linestatus", "l_discount", "l_tax")
        .orderBy(liKey.map(col): _*)),

    // ===== P4: column-arithmetic expression language =====================
    "q_p4_expr" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      val withNet = Expressions.withExpr(li, "net",
        "l_extendedprice * (1 - l_discount) / 100 + 2")
      Expressions.withExpr(withNet, "bucket7", "l_quantity // 7")
        .select(liKey.map(col) :+ round(col("net"), 6).as("net") :+
          col("bucket7"): _*)
        .orderBy(liKey.map(col): _*)
    }),

    // ===== P5: assign (derived columns) ==================================
    "q_p5_assign" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .withColumn("flag_status", concat_ws("/", col("l_returnflag"), col("l_linestatus")))
        .withColumn("charge", round(col("l_extendedprice") * (lit(1) + col("l_tax")), 4))
        .select(liKey.map(col) :+ col("flag_status") :+ col("charge"): _*)
        .orderBy(liKey.map(col): _*)),

    // ===== J1: broadcast subtable lookup join ============================
    "q_j1_lookup" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .join(broadcast(T(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(T(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("n_name")),

    // ===== J2: composed dimension lookup (orders→customer→nation) ========
    "q_j2_chain" -> ((s, dir) =>
      T(s, dir, "orders")
        .join(broadcast(T(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("n_name")),

    // ===== J3/F1/F2: fragment overlay chain ==============================
    "q_f2_fragments" -> ((s, dir) => {
      val base = MSTable.withRowId(T(s, dir, "lineitem"), liKey)
      MSWrite.create(base, tmp("q_f2_base"))
      val d1 = base.filter(col("l_returnflag") === "R")
        .select(col(MSTable.RowId), (col("l_quantity") + 100).as("l_quantity"))
      MSWrite.writeFragment(d1, tmp("q_f2_c1"), tmp("q_f2_base"))
      val d2 = base.filter(col("l_linenumber") === 1)
        .select(col(MSTable.RowId), lit(0.99).as("l_tax"))
      MSWrite.writeFragment(d2, tmp("q_f2_c2"), tmp("q_f2_c1"))
      MSWrite.readFragment(s, tmp("q_f2_c2"), liKey)
        .groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_tax"), 4).as("sum_tax"))
        .orderBy("l_returnflag")
    }),

    // fragment COMPACTION: the q_f2 chain folded into a standalone table
    // (rename-free create; the object-store workflow closer) must read
    // back identical to the live overlay — same oracle as the chain, but
    // scanned from the compacted table with no ancestry walk
    "q_compact" -> ((s, dir) => {
      val base = MSTable.withRowId(T(s, dir, "lineitem"), liKey)
      MSWrite.create(base, tmp("q_cp_base"))
      val d1 = base.filter(col("l_returnflag") === "R")
        .select(col(MSTable.RowId), (col("l_quantity") + 100).as("l_quantity"))
      MSWrite.writeFragment(d1, tmp("q_cp_c1"), tmp("q_cp_base"))
      val d2 = base.filter(col("l_linenumber") === 1)
        .select(col(MSTable.RowId), lit(0.99).as("l_tax"))
      MSWrite.writeFragment(d2, tmp("q_cp_c2"), tmp("q_cp_c1"))
      MSWrite.compactFragments(s, tmp("q_cp_c2"), tmp("q_cp_flat"), liKey)
      MSTable.open(s, tmp("q_cp_flat"))
        .groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_tax"), 4).as("sum_tax"))
        .orderBy("l_returnflag")
    }),

    // keyword UPDATE parity (reference _put_keywords merge semantics):
    // per-key merge + DELKW removal applied over a created table; the
    // surviving dictionary is returned as rows
    "q_s14_kw_update" -> ((s, dir) => {
      val p = tmp("q_kw_update")
      MSWrite.create(T(s, dir, "region"), p)
      MSWrite.putKeywords(s, p, Map("KEEP" -> "v0", "EDIT" -> "old", "DROP" -> "x"))
      MSWrite.updateKeywords(s, p,
        Map("EDIT" -> Some("new"), "ADDED" -> Some("a"), "DROP" -> None))
      val kw = MSWrite.readKeywords(s, p).toSeq.sortBy(_._1)
      import s.implicits._
      kw.toDF("key", "value").orderBy("key")
    }),

    // ===== big-big shuffle join (SMJ/SHJ via Catalyst+AQE) ===============
    "q_join_smj" -> ((s, dir) =>
      T(s, dir, "orders").join(T(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("o_orderpriority")),

    // ===== semi / anti / theta joins =====================================
    "q_join_semi" -> ((s, dir) =>
      T(s, dir, "orders").join(
          T(s, dir, "lineitem").filter(col("l_quantity") > 49),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),

    "q_join_anti" -> ((s, dir) =>
      T(s, dir, "part").join(T(s, dir, "lineitem"),
          col("p_partkey") === col("l_partkey"), "left_anti")
        .groupBy("p_brand").agg(count(lit(1)).as("n"))
        .orderBy("p_brand")),

    "q_join_theta" -> ((s, dir) =>
      T(s, dir, "supplier").join(broadcast(T(s, dir, "nation")),
          col("s_acctbal") >= col("n_nationkey") * 100 &&
            col("s_acctbal") <= col("n_nationkey") * 400)
        .groupBy("n_name").agg(count(lit(1)).as("n"))
        .orderBy("n_name")),

    // ===== as-of join (composed: union + window last) ====================
    "q_join_asof" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val left = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val right = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value").as("click_value"))
      AsOfJoin.asOf(left, right, Seq("user_id"), "ts", Seq("click_value"))
        .select(col("event_id"), col("user_id"),
          round(col("asof_click_value"), 4).as("last_click_value"))
        .orderBy("event_id")
    }),

    // ===== range join ====================================================
    "q_join_range" -> ((s, dir) =>
      AsOfJoin.rangeJoin(
          T(s, dir, "lineitem").withColumnRenamed("l_partkey", "p_partkey"),
          T(s, dir, "part"), Seq("p_partkey"),
          col("l_quantity"), col("p_size").cast("double"),
          col("p_size").cast("double") + 30)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
        .orderBy("p_brand")),

    // ===== A1: GAGGR / GCOUNT / GROWID ===================================
    "q_a1_gaggr" -> ((s, dir) => {
      val withId = MSTable.withRowId(T(s, dir, "lineitem"), liKey)
      // lines emitted as a joined string: the driver's pandas comparator
      // cannot sort/hash raw list columns (unhashable numpy.ndarray).
      withId.groupBy("l_orderkey")
        .agg(array_join(sort_array(collect_list(col("l_linenumber"))), ",")
            .as("lines"),
          count(lit(1)).as("gcount"),
          min(col(MSTable.RowId)).as("first_rowid"))
        .orderBy("l_orderkey")
    }),

    // ===== A2: per-row grouping (ragged dim tables) ======================
    "q_a2_perrow" -> ((s, dir) => {
      val region = MSTable.withRowId(T(s, dir, "region"), Seq("r_regionkey"))
      val dss = MSTable.perRowDatasets(region)
      dss.map(_.df).reduce(_ unionByName _).orderBy(MSTable.RowId)
    }),

    // ===== aggregates: sum/avg/min/max/count/distinct ====================
    "q_agg_stats" -> ((s, dir) =>
      T(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 4).as("sum_qty"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          date_format(min("l_shipdate"), "yyyy-MM-dd").as("min_ship"),
          date_format(max("l_shipdate"), "yyyy-MM-dd").as("max_ship"),
          count(lit(1)).as("n"),
          countDistinct(col("l_partkey")).as("n_parts"))
        .orderBy("l_returnflag")),

    // ===== rollup / cube =================================================
    "q_agg_rollup" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"), col("sum_qty"))
        .orderBy("flag", "status")),

    "q_agg_cube" -> ((s, dir) =>
      T(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy("status", "priority")),

    // ===== exact percentiles =============================================
    "q_agg_percentile" -> ((s, dir) =>
      T(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5)"), 6).as("med_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"),
          round(expr("percentile(l_extendedprice, 0.25)"), 6).as("p25_price"))
        .orderBy("l_returnflag")),

    // ===== pivot =========================================================
    "q_pivot" -> ((s, dir) =>
      T(s, dir, "lineitem").groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(sum("l_quantity"), 4))
        .orderBy("l_linestatus")),

    // ===== approximate distinct (HLL) — derived tolerance check ==========
    // HLL internals aren't SQL-expressible; the provable property is the
    // accuracy contract: |approx - exact| within tolerance per group
    // (rsd=0.02, asserted at 5× slack). Oracle = constant `true` rows.
    "q_agg_approx" -> ((s, dir) =>
      T(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
          countDistinct(col("l_partkey")).as("exact"))
        .select(col("l_returnflag"),
          (abs(col("approx") - col("exact")) <= col("exact") * 0.10).as("within_tol"))
        .orderBy("l_returnflag")),

    // approximate-quantile sketch contract: the estimated median's TRUE
    // rank must sit within the accuracy bound of 0.5 — the
    // Greenwald-Khanna guarantee asserted as a derived check (rank error,
    // not value error, is what the sketch promises)
    "q_agg_quantile_sketch" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      val acc = 100 // relative error <= 1/acc
      val est = li.stat.approxQuantile("l_extendedprice",
        Array(0.25, 0.5, 0.75), 1.0 / acc)
      val n = li.count().toDouble
      val ranks = est.map(v =>
        li.filter(col("l_extendedprice") <= v).count() / n)
      val ok = ranks.zip(Seq(0.25, 0.5, 0.75)).forall { case (r, q) =>
        math.abs(r - q) <= 2.0 / acc }
      val one = s.range(1).select(
        lit(ok).as("ok3"), lit(est.length == 3).as("n3"),
        lit(est.sorted.sameElements(est)).as("mono"))
      checkRows(one,
        "rank_error_bounded" -> col("ok3"),
        "three_quantiles" -> col("n3"),
        "monotone" -> col("mono"))
    }),

    // PageRank over a deterministic synthetic link graph (three affine
    // permutation edge relations — every node has in/out degree exactly 3,
    // so the oracle's recursive CTE needs no dangling term while the
    // OPERATOR still runs its full dangling logic, which contributes 0).
    // 10 synchronous iterations, exact vs DuckDB running the identical
    // recursion; in-degree 3 keeps float summation noise ~1e-19, far
    // below the round(6) pin
    "q_pagerank" -> ((s, dir) => {
      val (nodes, edges) = mapGraph(s, dir)
      Graph.pageRank(edges, "src", "dst", iters = 10)
        .select(col("node").as("doc_id"), round(col("rank"), 6).as("pr"))
        .orderBy("doc_id")
    }),

    // personalized PageRank: teleport concentrated on the doc_id % 50
    // seed set — the topic-focused curation prior; oracle reruns the
    // identical 10-iteration recursion with the seeded teleport vector
    "q_ppr" -> ((s, dir) => {
      val (nodes, edges) = mapGraph(s, dir)
      val seeds = nodes.filter(col("node") % 50 === 0)
        .select(col("node").as("id"))
      Graph.personalizedPageRank(edges, "src", "dst", seeds, "id", iters = 10)
        .select(col("node").as("doc_id"), round(col("rank"), 6).as("ppr"))
        .orderBy("doc_id")
    }),

    // EXACT truncated harmonic centrality (radius 4) on the same
    // 3-map graph — the Common Crawl host-ranking metric; the oracle
    // reruns the identical capped multi-source BFS as a recursive CTE
    "q_harmonic" -> ((s, dir) => {
      val (nodes, edges) = mapGraph(s, dir)
      Graph.harmonicCentralityExact(edges, "src", "dst", maxDepth = 4)
        .select(col("node").as("doc_id"),
          round(col("harmonic"), 6).as("harmonic"))
        .orderBy("doc_id")
    }),

    // per-node triangle counts on the 3-map graph plus a 6-clique (the
    // maps alone need not close triangles at every SF — the clique pins
    // a non-trivial count deterministically); oracle = DuckDB's ordered
    // three-way self-join, exact
    "q_triangles" -> ((s, dir) =>
      Graph.triangleCounts(mapGraphWithClique(s, dir), "src", "dst")
        .orderBy("node")),

    // link-prediction proximity scores (common neighbors / Adamic-Adar /
    // neighborhood Jaccard) on the same graph; oracle = DuckDB replays
    // the wedge join + degree joins, exact (doubles rounded 6)
    "q_link_predict" -> ((s, dir) =>
      Graph.linkPredictionScores(mapGraphWithClique(s, dir), "src", "dst",
          minCommon = 2)
        .select(col("id_a"), col("id_b"), col("common_neighbors"),
          round(col("adamic_adar"), 6).as("adamic_adar"),
          round(col("jaccard"), 6).as("jaccard"), col("already_linked"))
        .orderBy("id_a", "id_b")),

    // k-core derived checks (iterate-until-fixpoint peeling is not
    // SQL-expressible): membership degrees re-derived INDEPENDENTLY from
    // the induced subgraph must equal the operator's core_degree and
    // stay >= k (the defining property), and the 6-clique (internal
    // degree 5) can never peel at k = 5
    "q_kcore" -> ((s, dir) => {
      val edges = mapGraphWithClique(s, dir)
      val core = pin(Graph.kCore(edges, "src", "dst", k = 5))
      val und = edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v")).distinct()
      val sym = und.select(col("u").as("z"), col("v").as("n"))
        .unionByName(und.select(col("v").as("z"), col("u").as("n")))
      val members = core.select(col("node").as("z"))
      val induced = sym.join(members, Seq("z"), "left_semi")
        .join(members.withColumnRenamed("z", "n"), Seq("n"), "left_semi")
        .groupBy("z").agg(count(lit(1)).as("__ind"))
      val one = core.agg(count(lit(1)).as("n_core"),
          min("core_degree").as("min_deg"))
        .crossJoin(core.join(induced, col("node") === col("z"), "left")
          .filter(col("__ind").isNull || col("__ind") =!= col("core_degree"))
          .agg(count(lit(1)).as("n_mismatch")))
        .crossJoin(core.filter(col("node") < 6).agg(count(lit(1)).as("n_clique")))
      checkRows(one,
        "core_nonempty" -> (col("n_core") >= 6),
        "min_degree_at_least_k" -> (col("min_deg") >= 5),
        "induced_degrees_match" -> (col("n_mismatch") === 0),
        "clique_in_core" -> (col("n_clique") === 6))
    }),

    // connected components via FastSV parent-pointer rounds on the
    // multi-component residue-chain graph; labels are component minima;
    // oracle = DuckDB recursive-CTE min-label flooding over the
    // symmetric closure, exact
    "q_components" -> ((s, dir) =>
      Graph.connectedComponents(componentGraph(s, dir), "src", "dst")
        .orderBy("node")),

    // local clustering coefficients (Watts–Strogatz closure density) on
    // the 3-map + 6-clique graph; oracle re-derives triangles AND
    // degrees from the same edge CTE — lcc exact at round(6)
    "q_clustering" -> ((s, dir) =>
      Graph.clusteringCoefficients(mapGraphWithClique(s, dir), "src", "dst")
        .select(col("node"), col("degree"), col("triangles"),
          round(col("lcc"), 6).as("lcc"))
        .orderBy("node")),

    // global transitivity (3·triangles / wedges) of the same graph — one
    // scalar row, exact: both sides divide the same exact-integer sums
    "q_transitivity" -> ((s, dir) =>
      Graph.transitivity(mapGraphWithClique(s, dir), "src", "dst")
        .select(round(col("transitivity"), 6).as("transitivity"))),

    // label-propagation communities (deterministic synchronous LPA:
    // closed-neighborhood majority vote, smallest-label tie-break) on
    // the star-block graph; oracle = the same rule unrolled 8 rounds of
    // chained CTEs — exact, and indifferent to the engine's early-stop
    // because a fixpoint survives extra rounds
    "q_communities" -> ((s, dir) =>
      Graph.labelPropagation(communityGraph(s, dir), "src", "dst",
          maxIters = 8)
        .orderBy("node")),

    // Newman modularity of the LPA labeling on the same graph — the
    // standard community-quality score; oracle = the LPA replay's
    // labeling pushed through the same per-community decomposition
    "q_modularity" -> ((s, dir) => {
      val g = communityGraph(s, dir)
      val labels = Graph.labelPropagation(g, "src", "dst", maxIters = 8)
      Graph.modularity(g, "src", "dst", labels, "node", "label")
        .orderBy("community")
    }),

    // degree assortativity of the 3-map + clique graph — one exact
    // scalar (integer sums on both engines)
    "q_assortativity" -> ((s, dir) =>
      Graph.degreeAssortativity(mapGraphWithClique(s, dir), "src", "dst")),

    // k-truss (k=4) of the 3-map + clique graph: derived checks prove
    // the defining property with an INDEPENDENT algorithm — for every
    // surviving edge, the common-neighbor count inside the output
    // (neighbor-intersection, not the oriented wedge join that computed
    // `support`) must equal the stored support and clear k−2 — plus
    // 6-clique survival, input-subset, and genuine pruning
    "q_ktruss" -> ((s, dir) => {
      import s.implicits._
      val edges = mapGraphWithClique(s, dir)
      val out = pin(Graph.kTruss(edges, "src", "dst", k = 4))
      val und = edges.select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val sym = out.select(col("u").as("a"), col("v").as("b"))
        .union(out.select(col("v").as("a"), col("u").as("b")))
      val recount = out.select("u", "v")
        .join(sym.select(col("a").as("u"), col("b").as("x")), "u")
        .join(sym.select(col("a").as("v"), col("b").as("x")), Seq("v", "x"))
        .groupBy("u", "v").agg(count(lit(1)).as("cn"))
      val clique = (for (i <- 0L until 6L; j <- (i + 1) until 6L)
        yield (i, j)).toDF("u", "v")
      val one = out.agg(count(lit(1)).as("n_out"),
          min("support").as("min_sup"))
        .crossJoin(out.join(clique, Seq("u", "v"), "left_semi")
          .agg(count(lit(1)).as("n_cl")))
        .crossJoin(out.join(recount, Seq("u", "v"), "left")
          .filter(coalesce(col("cn"), lit(0L)) =!= col("support"))
          .agg(count(lit(1)).as("n_mismatch")))
        .crossJoin(und.agg(count(lit(1)).as("n_in")))
        .crossJoin(out.join(und, Seq("u", "v"), "left_anti")
          .agg(count(lit(1)).as("n_stray")))
      checkRows(one,
        "clique_survives" -> (col("n_cl") === 15),
        "supports_recount_match" -> (col("n_mismatch") === 0),
        "supports_clear_k" -> (col("min_sup") >= 2),
        "subset_of_input" -> (col("n_stray") === 0),
        "genuinely_pruned" -> (col("n_out") < col("n_in") &&
          col("n_out") >= 15))
    }),

    // truncated (depth-3) Brandes betweenness, directed, all sources,
    // on the 3-map graph; oracle = the forward sigma levels and the
    // backward dependency accumulation unrolled in SQL — exact at
    // round(6) (sigma ratios are ratios of small exact integers)
    "q_betweenness" -> ((s, dir) =>
      Graph.betweennessCentrality(mapGraph(s, dir)._2, "src", "dst",
          maxDepth = 3)
        .orderBy("node")),

    // HITS hubs/authorities (5 iterations, L1-normalized ONCE at the
    // end so every iterate stays integer-valued and exact in doubles) on
    // the 3-map graph; oracle = DuckDB recursive-CTE co-citation power
    // iteration, bit-exact at round(6)
    "q_hits" -> ((s, dir) =>
      Graph.hits(mapGraph(s, dir)._2, "src", "dst", iters = 5)
        .select(col("node").as("doc_id"), round(col("hub"), 6).as("hub"),
          round(col("auth"), 6).as("auth"))
        .orderBy("doc_id")),

    // strongly connected components (bow-tie decomposition) on a graph
    // of 100 five-node cycles (blocks of 25 ids × residue classes mod
    // 5) joined by one-way DAG bridges, plus ONE backward bridge
    // (n-1 → 3) that forces a second peel round; oracle = DuckDB
    // recursive-CTE reachability closure → mutual-reach minimum, exact
    "q_scc" -> ((s, dir) => {
      import s.implicits._
      val nodes = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("node"))
      val nMod = nodes.count()
      val cycles = nodes.select(col("node").as("src"),
        (expr("CAST(node AS BIGINT) div 25") * 25 +
          (col("node") % 25 + 5) % 25).as("dst"))
      val bridges = nodes.filter(col("node") % 50 === 0 &&
          col("node") + 25 < nMod)
        .select(col("node").as("src"), (col("node") + 25).as("dst"))
      val back = Seq((nMod - 1, 3L)).toDF("src", "dst")
      Graph.stronglyConnectedComponents(
          cycles.unionByName(bridges).unionByName(back), "src", "dst")
        .orderBy("node")
    }),

    // link-graph dataset card (the corpusReport analog for edge lists)
    // on the maps+clique graph; oracle = DuckDB recomputes every number
    // from the same raw edge list, exact
    "q_graph_card" -> ((s, dir) =>
      Graph.graphCard(mapGraphWithClique(s, dir), "src", "dst")),

    // deterministic random walks (DeepWalk preprocessing) on the 3-map
    // graph — derived checks (the hash-argmin transition is not
    // SQL-expressible): exactly walksPerNode walks per node, all full
    // length (the map graph has no sinks), every hop re-verified to be
    // an edge by an independent anti-join, every path starting at its
    // start node
    "q_walks" -> ((s, dir) => {
      val (nodes, edges) = mapGraph(s, dir)
      val walks = pin(Graph.randomWalks(edges, "src", "dst", length = 8,
        walksPerNode = 2))
      val hops = walks.select(explode(zip_with(
          expr("slice(split(path, ','), 1, size(split(path, ',')) - 1)"),
          expr("slice(split(path, ','), 2, size(split(path, ',')) - 1)"),
          (a, b) => struct(a.cast("long").as("src"), b.cast("long").as("dst"))))
          .as("h"))
        .select(col("h.src").as("src"), col("h.dst").as("dst"))
      val one = walks.agg(count(lit(1)).as("n_walks"),
          min("n_steps").as("min_steps"))
        .crossJoin(nodes.agg(count(lit(1)).as("n_nodes")))
        .crossJoin(hops.join(edges.select("src", "dst").distinct(),
            Seq("src", "dst"), "left_anti")
          .agg(count(lit(1)).as("n_bad")))
        .crossJoin(walks.filter(
            split(col("path"), ",").getItem(0).cast("long") =!= col("start"))
          .agg(count(lit(1)).as("n_misstart")))
      checkRows(one,
        "two_walks_per_node" -> (col("n_walks") === col("n_nodes") * 2),
        "full_length" -> (col("min_steps") === 8),
        "every_hop_is_an_edge" -> (col("n_bad") === 0),
        "paths_start_at_start" -> (col("n_misstart") === 0))
    }),

    // node2vec biased walks (p=4 discourages returns, q=0.25 favors
    // outward): the q_walks invariants, plus a second run at p=1e9
    // proving the return-suppression knob bites — zero immediate
    // backtracks anywhere (a backtrack's exponential-race weight 1e-9
    // never wins a finite alternative)
    "q_node2vec" -> ((s, dir) => {
      val (nodes, edges) = mapGraph(s, dir)
      val walks = pin(Graph.node2vecWalks(edges, "src", "dst", length = 8,
        p = 4.0, q = 0.25, walksPerNode = 2))
      val hops = walks.select(explode(zip_with(
          expr("slice(split(path, ','), 1, size(split(path, ',')) - 1)"),
          expr("slice(split(path, ','), 2, size(split(path, ',')) - 1)"),
          (a, b) => struct(a.cast("long").as("src"), b.cast("long").as("dst"))))
          .as("h"))
        .select(col("h.src").as("src"), col("h.dst").as("dst"))
      val noReturn = pin(Graph.node2vecWalks(edges, "src", "dst",
        length = 4, p = 1e9, q = 1.0))
      val one = walks.agg(count(lit(1)).as("n_walks"),
          min("n_steps").as("min_steps"))
        .crossJoin(nodes.agg(count(lit(1)).as("n_nodes")))
        .crossJoin(hops.join(edges.select("src", "dst").distinct(),
            Seq("src", "dst"), "left_anti")
          .agg(count(lit(1)).as("n_bad")))
        .crossJoin(walks.filter(
            split(col("path"), ",").getItem(0).cast("long") =!= col("start"))
          .agg(count(lit(1)).as("n_misstart")))
        .crossJoin(noReturn.select(explode(zip_with(
            expr("slice(split(path, ','), 1, size(split(path, ',')) - 2)"),
            expr("slice(split(path, ','), 3, size(split(path, ',')) - 2)"),
            (a, c) => (a === c).cast("int"))).as("b"))
          .agg(coalesce(sum("b"), lit(0)).as("n_back")))
      checkRows(one,
        "two_walks_per_node" -> (col("n_walks") === col("n_nodes") * 2),
        "full_length" -> (col("min_steps") === 8),
        "every_hop_is_an_edge" -> (col("n_bad") === 0),
        "paths_start_at_start" -> (col("n_misstart") === 0),
        "no_backtrack_when_p_huge" -> (col("n_back") === 0))
    }),

    // HyperBall derived checks: the HLL approximation must cover every
    // node, stay positive where the exact value is, keep the mean
    // relative error inside the m = 128 band, and keep the corpus-wide
    // mass within 10% — calibrated against the in-engine exact baseline
    "q_harmonic_hyperball" -> ((s, dir) => {
      val (nodes, edges) = mapGraph(s, dir)
      val exact = pin(Graph.harmonicCentralityExact(edges, "src", "dst",
        maxDepth = 4).withColumnRenamed("harmonic", "he"))
      val hb = pin(Graph.harmonicCentralityHyperBall(edges, "src", "dst",
        maxDepth = 4, logM = 7))
      // positivity is a FRACTION, not a min: at m = 128 a node with one
      // in-neighbor has ~1/256 odds that the neighbor's register collides
      // with its own and the estimate stays 0 while exact > 0 — that is
      // HLL variance, not an engine bug, so the gate tolerates up to 1%
      // of such nodes (robust to fixture regeneration; the r13 corpus
      // happens to have zero)
      val one = exact.join(hb, "node").agg(
        count(lit(1)).as("n_joined"),
        avg(when(col("he") > 0 && col("harmonic") === 0, 1.0)
          .otherwise(0.0)).as("__zfrac"),
        avg(when(col("he") > 0,
          abs(col("harmonic") - col("he")) / col("he"))).as("__rel"),
        (sum("harmonic") / sum("he")).as("__mass"))
        .crossJoin(exact.agg(count(lit(1)).as("n_nodes")))
      checkRows(one,
        "covers_all_nodes" -> (col("n_joined") === col("n_nodes") &&
          col("n_nodes") >= 1),
        "positive_where_exact_is" -> (col("__zfrac") <= 0.01),
        "mean_rel_error_in_band" -> (col("__rel") < 0.15),
        "mass_within_10pct" -> (col("__mass") > 0.9 && col("__mass") < 1.1))
    }),

    // KMV bottom-k sketch overlap: B = every 3rd document, so B ⊆ A with
    // known exact distinct/Jaccard/overlap; the sketches see ONE scan per
    // corpus and k longs of state. B's sketch is unsaturated (|B| < k) so
    // its distinct estimate must be EXACT; saturated-side estimates must
    // land within the (generous, measured ~6% rmse at k=256) floors.
    // Deterministic: xxhash64 is seed-fixed, so this passes identically
    // on every run at every SF
    "q_corpus_overlap" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val a = docs.select(col("text"))
      val b = docs.filter(col("doc_id") % 3 === 0).select(col("text"))
      val k = 256
      val est = Sketches.corpusOverlap(a, b, col("text"), k)
      val exactA = a.distinct().count().toDouble
      val exactB = b.distinct().count().toDouble
      val one = s.range(1).select(
        lit(est.distinctB == exactB).as("b_exact"),
        lit(math.abs(est.distinctA / exactA - 1) <= 0.25).as("a_close"),
        lit(math.abs(est.jaccard - exactB / exactA) <= 0.15).as("j_close"),
        lit(est.containmentBinA >= 0.85).as("contain"),
        lit(math.abs(est.overlap / exactB - 1) <= 0.25).as("ov_close"))
      checkRows(one, "a_close" -> col("a_close"), "b_exact" -> col("b_exact"),
        "contain" -> col("contain"), "j_close" -> col("j_close"),
        "ov_close" -> col("ov_close"))
    }),

    // ===== set operations ================================================
    "q_set_union" -> ((s, dir) =>
      T(s, dir, "customer").select(col("c_nationkey").as("k")).distinct()
        .union(T(s, dir, "supplier").select(col("s_nationkey").as("k")).distinct())
        .distinct().orderBy("k")),

    "q_set_intersect" -> ((s, dir) =>
      T(s, dir, "customer").select(col("c_nationkey").as("k"))
        .intersect(T(s, dir, "supplier").select(col("s_nationkey").as("k")))
        .orderBy("k")),

    "q_set_except" -> ((s, dir) =>
      T(s, dir, "customer").select(col("c_nationkey").as("k"))
        .except(T(s, dir, "supplier").select(col("s_nationkey").as("k")))
        .orderBy("k")),

    "q_distinct" -> ((s, dir) =>
      T(s, dir, "lineitem").select("l_returnflag", "l_linestatus")
        .dropDuplicates()
        .orderBy("l_returnflag", "l_linestatus")),

    // ===== O1: global sort ===============================================
    "q_o1_sort" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .orderBy(col("l_shipdate").desc, col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("l_quantity"), col("l_extendedprice"))
        .select(liKey.map(col) :+
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship"): _*)),

    // ===== O4: top-k (TakeOrderedAndProject) =============================
    "q_o4_topk" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .limit(100)
        .select(liKey.map(col): _*)),

    // ===== window functions ==============================================
    "q_w1_window" -> ((s, dir) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      T(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
        .withColumn("running_qty",
          round(sum(col("l_quantity")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 4))
        .select(liKey.map(col) :+ col("rn") :+ col("prev_qty") :+ col("running_qty"): _*)
        .orderBy(liKey.map(col): _*)
    }),

    // ===== scalar function surface =======================================
    "q_scalar_funcs" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .select(liKey.map(col) ++ Seq(
          upper(col("l_returnflag")).as("flag_u"),
          substring(col("l_linestatus"), 1, 1).as("st1"),
          concat_ws("-", col("l_returnflag"), col("l_linestatus")).as("cat"),
          year(col("l_shipdate")).as("ship_year"),
          month(col("l_shipdate")).as("ship_month"),
          round(sqrt(col("l_quantity")), 6).as("sqrt_qty"),
          abs(col("l_discount") - 0.05).cast("double").as("abs_disc"),
          length(col("l_returnflag")).as("flag_len"),
          round(log(col("l_extendedprice")), 6).as("ln_price")): _*)
        .orderBy(liKey.map(col): _*)),

    // ===== scalar functions: JSON ========================================
    "q_scalar_json" -> ((s, dir) =>
      T(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("int").as("k_int"))
        .orderBy("event_id")),

    // ===== scalar functions: arrays ======================================
    "q_scalar_array" -> ((s, dir) =>
      T(s, dir, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).as("dim"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("first"),
          round(element_at(col("embedding"), -1).cast("double"), 6).as("last"),
          round(aggregate(slice(col("embedding"), 1, 8),
            lit(0d), (acc, x) => acc + x.cast("double")), 6).as("head8_sum"))
        .orderBy("vec_id")),

    // ===== REAL structured-streaming execution (readStream → memory) =====
    // same aggregation as q_stream_tumbling, but run as an actual streaming
    // query over a file source and hash-matched against the same oracle
    "q_stream_real" -> ((s, dir) => {
      val raw = T(s, dir, "events")
      val evDir = tmp("q_stream_real_events")
      raw.write.mode("overwrite").parquet(evDir)
      val stream = s.readStream.schema(raw.schema).parquet(evDir)
      val agg = EventStream.tumbling(stream, "1 hour")
      EventStream.runToMemory(agg, "q_stream_real_out")
      s.table("q_stream_real_out")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), round(col("total"), 4).as("total"))
        .orderBy("window_start", "event_type")
    }),

    // ===== complex arithmetic (struct(re,im)) ============================
    "q_complex" -> ((s, dir) => {
      import ComplexFns._
      val li = T(s, dir, "lineitem")
      val a = c_make(col("l_discount"), col("l_tax"))
      val b = c_make(col("l_quantity"), col("l_linenumber").cast("double"))
      li.select(liKey.map(col) ++ Seq(
          round(c_re(c_mul(a, b)), 6).as("mul_re"),
          round(c_im(c_mul(a, b)), 6).as("mul_im"),
          round(c_re(c_div(a, b)), 6).as("div_re"),
          round(c_im(c_div(a, b)), 6).as("div_im"),
          round(c_abs(a), 6).as("abs_a"),
          round(c_im(c_conj(b)), 6).as("conj_b_im")): _*)
        .orderBy(liKey.map(col): _*)
    }),

    // ===== streaming-equivalent windows (batch parity) ===================
    "q_stream_tumbling" -> ((s, dir) =>
      EventStream.tumbling(T(s, dir, "events"), "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), round(col("total"), 4).as("total"))
        .orderBy("window_start", "event_type")),

    "q_stream_sliding" -> ((s, dir) =>
      EventStream.sliding(T(s, dir, "events"), "2 hours", "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("user_id"), col("n"))
        .orderBy("window_start", "user_id")),

    // window-to-window type-mix drift: JS divergence of each hour's
    // event_type distribution vs the previous hour's — the ingestion
    // drift alarm; oracle replays counts, the prev-window self-join,
    // and the JS terms exactly (round 9 absorbs multiply-order ulps)
    "q_drift" -> ((s, dir) =>
      EventStream.typeDrift(T(s, dir, "events"), "event_type", "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n_events"), col("js_drift"))
        .orderBy("window_start")),

    // streaming quality monitor: per-hour binned ROC AUC + calibration
    // ECE over deterministically scored events (label = user parity,
    // score = label-shifted dyadic rational m/1024, so every per-bin sum
    // is EXACT and the oracle replays the u-statistic and the collapsed
    // ECE bit-for-bit); the streaming-vs-batch parity of the same
    // computation is pinned in EventStreamSpec via foreachBatch
    "q_stream_eval" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val m = (col("user_id") % 2) * 300 + pmod(col("user_id") * 37 + 11,
        lit(700))
      val scored = ev.select(col("ts"),
        (m.cast("double") / 1024.0).as("score"),
        (col("user_id") % 2).cast("double").as("label"))
      EventStream.windowedEval(scored, "score", "label", "1 hour", bins = 8)
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n"),
          // the operator reports a single-class window's auc as NULL;
          // the gate needs a sortable double, so the QUERY maps it to
          // the -1.0 sentinel (the oracle mirrors the COALESCE)
          coalesce(col("auc"), lit(-1.0)).as("auc"), col("ece"))
        .orderBy("window_start")
    }),

    // model-score population drift (PSI) per hour vs the previous hour
    // — the numeric sibling of q_drift's categorical JS: dyadic scores
    // make the bin shares exact count ratios the oracle replays
    "q_score_drift" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val scored = ev.select(col("ts"),
        (pmod(col("user_id") * 37 + 11, lit(700)).cast("double") / 1024.0)
          .as("score"))
      EventStream.scoreDrift(scored, "score", "1 hour", bins = 8)
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n_events"), col("psi"), col("one_sided_bins"))
        .orderBy("window_start")
    }),

    // EMBEDDING population drift (PSI over IVF cells) per hour vs the
    // previous hour — the representation-space member of the drift
    // family. The oracle replays the cell assignment exactly because
    // the probe centroids are scaled basis vectors: nearest-centroid
    // under squared-L2 against M·e_j reduces to argmax over the first
    // 4 coordinates (verified tie-free in the data at every SF), so
    // the REAL codegen assignment kernel is under test while the SQL
    // side is a closed-form CASE
    "q_embed_drift" -> ((s, dir) => {
      val centroids = Array.tabulate(4)(j =>
        Array.tabulate(64)(k => if (k == j) 2000.0 else 0.0))
      val arriving = T(s, dir, "embeddings").select(
        (to_timestamp(lit("2024-01-01 00:00:00")) +
          expr("INTERVAL 30 MINUTES") * (col("vec_id") % 12)).as("ts"),
        col("embedding"))
      EventStream.embeddingDrift(arriving, "embedding", centroids,
          "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n_events"), col("psi"), col("one_sided_bins"))
        .orderBy("window_start")
    }),

    // window-to-window two-sample KS drift on the exact score ECDF —
    // the nonparametric sibling of q_score_drift: dyadic scores make
    // both ECDFs exact count ratios, and the statistic plus the
    // fixed-truncation Kolmogorov p-value replay closed-form
    "q_ks_drift" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val scored = ev.select(col("ts"),
        (pmod(col("user_id") * 37 + 11, lit(700)).cast("double") / 1024.0)
          .as("score"))
      EventStream.ksDrift(scored, "score", "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n_cur"), col("n_prev"), col("d"), col("p_value"))
        .orderBy("window_start")
    }),

    // per-window paired A/B monitor (streaming McNemar): 3-way labels
    // and two synthetic models from user_id arithmetic; the oracle
    // replays the per-window discordant counts, the continuity-
    // corrected chi^2, and the NR-erfcc p-value closed form
    "q_stream_ab" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val scored = ev.select(col("ts"),
        ((col("user_id") * 7) % 3).cast("string").as("y"),
        ((col("user_id") * 11) % 3).cast("string").as("a"),
        ((col("user_id") * 13) % 3).cast("string").as("b"))
      EventStream.windowedAb(scored, "y", "a", "b", "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n"), col("acc_a"), col("acc_b"), col("b_discordant"),
          col("c_discordant"), col("statistic"), col("p_value"))
        .orderBy("window_start")
    }),

    // Wald SPRT over the cumulative discordant stream: the anytime-
    // valid A/B decision (no peeking fallacy); the oracle replays the
    // prefix sums, both LLR lines, and the four-way decision CASE
    "q_stream_sprt" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val scored = ev.select(col("ts"),
        ((col("user_id") * 7) % 3).cast("string").as("y"),
        ((col("user_id") * 11) % 3).cast("string").as("a"),
        ((col("user_id") * 13) % 3).cast("string").as("b"))
      EventStream.windowedAbSprt(scored, "y", "a", "b", "1 hour",
          p1 = 0.6, alpha = 0.05, beta = 0.05)
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n"), col("b_cum"), col("c_cum"), col("llr_b"),
          col("llr_a"), col("decision"))
        .orderBy("window_start")
    }),

    // windowed CUSUM sequential change detection: integer-valued
    // synthetic metric makes every hourly mean an exact ratio; the
    // closed-form prefix identity S = P - min(0, running-min P) is
    // replayed verbatim by the oracle's stacked window functions, and
    // the alarm compares the round(9)-pinned statistic on both engines
    "q_cusum" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val scored = ev.select(col("ts"),
        ((col("user_id") * 7 + 3) % 13).cast("double").as("metric"))
      EventStream.cusumDrift(scored, "metric", mu0 = 5.5, kappa = 0.0,
          h = 2.0, width = "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n"), col("mean"), col("cusum_pos"), col("cusum_neg"),
          col("alarm"))
        .orderBy("window_start")
    }),

    // densified CUSUM on a GAPPED stream (every hour ≡ 1 mod 3 is
    // dropped): empty windows enter the recurrence as n = 0, mean = 0
    // observations over a generated window spine, so a paused feed
    // drives the negative cusum toward alarm — the oracle replays the
    // spine with generate_series and the same left join
    "q_cusum_gap" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val scored = ev
        .filter(hour(col("ts")) % 3 =!= 1)
        .select(col("ts"),
          ((col("user_id") * 7 + 3) % 13).cast("double").as("metric"))
      EventStream.cusumDrift(scored, "metric", mu0 = 5.5, kappa = 0.0,
          h = 2.0, width = "1 hour", densify = true)
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n"), col("mean"), col("cusum_pos"), col("cusum_neg"),
          col("alarm"))
        .orderBy("window_start")
    }),

    // always-valid sequential test for a CONTINUOUS metric: the
    // normal-mixture SPRT over cumulative per-window sums — dyadic
    // per-event deltas with a +1/64 shift so the boundary is crossed
    // mid-stream; the oracle replays the closed-form log Λ and the
    // round(9)-pinned threshold comparison
    "q_stream_msprt" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val scored = ev.select(col("ts"),
        ((((col("user_id") * 13) % 9) - 4).cast("double") / 8.0
          + lit(0.015625)).as("delta"))
      EventStream.windowedMixtureSprt(scored, "delta",
          sigma2 = Some(0.125), tau2 = 0.0625, alpha = 0.05,
          width = "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n"), col("n_cum"), col("mean_cum"), col("var_used"),
          col("log_lambda"), col("p_value"), col("reject"),
          col("decidable"))
        .orderBy("window_start")
    }),

    // the same mixture SPRT with sigma2 = None: the deployed plug-in
    // form — the running empirical variance (from a Σx² riding the
    // same aggregate) replaces the caller guess that would silently
    // void the α guarantee if wrong; the oracle replays s² =
    // (Σx² − S²/n)/(n−1) through the same closed-form log Λ
    "q_stream_msprt_var" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val scored = ev.select(col("ts"),
        ((((col("user_id") * 13) % 9) - 4).cast("double") / 8.0
          + lit(0.015625)).as("delta"))
      EventStream.windowedMixtureSprt(scored, "delta",
          sigma2 = None, tau2 = 0.0625, alpha = 0.05, width = "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n"), col("n_cum"), col("mean_cum"), col("var_used"),
          col("log_lambda"), col("p_value"), col("reject"),
          col("decidable"))
        .orderBy("window_start")
    }),

    // streaming OPE monitor: per-hour IPS/SNIPS/ESS over a dyadic
    // logged-bandit stream — the aggregate and every output formula
    // are single-sourced with the batch trio (opeAggExprs/opeStatCols)
    "q_stream_ope" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val scored = ev.select(col("ts"),
        (((col("user_id") * 13) % 8).cast("double") / 8.0).as("reward"),
        (lit(1.0) / pow(lit(2.0),
          (((col("user_id") * 7) % 3) + 1).cast("double"))).as("pb"),
        ((((col("user_id") * 11) % 8) + 1).cast("double") / 16.0)
          .as("pt"))
      EventStream.windowedOffPolicy(scored, "reward", "pb", "pt",
          clip = 2.0, width = "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n"), col("behavior_mean"), col("ips"), col("ips_se"),
          col("ips_lo"), col("ips_hi"), col("snips"), col("snips_se"),
          col("snips_lo"), col("snips_hi"), col("ess"),
          col("clipped_frac"))
        .orderBy("window_start")
    }),

    // two-sample mixture SPRT: the anytime-valid decision on the
    // cumulative between-arm delta of a continuous metric — dyadic
    // metric with a 1/32 lift so the boundary is crossed mid-stream;
    // the oracle replays the pivot, prefix sums, closed-form log Λ
    // and the pinned threshold comparison
    "q_stream_ab_msprt" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val base = ((col("user_id") * 13) % 16).cast("double") / 16.0
      val scored = ev.select(col("ts"),
        concat(lit("arm"), (col("user_id") % 2).cast("string"))
          .as("arm"),
        (base + (col("user_id") % 2).cast("double") * 0.03125).as("y"))
      EventStream.windowedAbMixtureSprt(scored, "arm", "arm0", "arm1",
          "y", sigma2 = Some(0.125), tau2 = 0.0625, alpha = 0.05,
          width = "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n"), col("na_cum"), col("nb_cum"), col("delta_cum"),
          col("var_used"), col("log_lambda"), col("p_value"),
          col("reject"), col("decidable"))
        .orderBy("window_start")
    }),

    // the two-sample mixture SPRT with sigma2 = None: the pooled
    // running variance (per-arm Σx² riding the same aggregate)
    // replaces the caller constant; the oracle replays
    // s² = (Σx²_A + Σx²_B − S_A²/n_A − S_B²/n_B)/(n_A + n_B − 2)
    "q_stream_ab_msprt_var" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val base = ((col("user_id") * 13) % 16).cast("double") / 16.0
      val scored = ev.select(col("ts"),
        concat(lit("arm"), (col("user_id") % 2).cast("string"))
          .as("arm"),
        (base + (col("user_id") % 2).cast("double") * 0.03125).as("y"))
      EventStream.windowedAbMixtureSprt(scored, "arm", "arm0", "arm1",
          "y", sigma2 = None, tau2 = 0.0625, alpha = 0.05,
          width = "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n"), col("na_cum"), col("nb_cum"), col("delta_cum"),
          col("var_used"), col("log_lambda"), col("p_value"),
          col("reject"), col("decidable"))
        .orderBy("window_start")
    }),

    // per-window CUPED monitor: hourly variance-reduced A/B delta on
    // a continuous metric, theta re-fit within each window — raw and
    // adjusted deltas, SEs, z and the erfcc p replay per window
    "q_stream_cuped" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val base = ((col("user_id") * 13) % 16).cast("double") / 16.0
      val scored = ev.select(col("ts"),
        concat(lit("arm"), (col("user_id") % 2).cast("string"))
          .as("arm"),
        (base + (col("user_id") % 2).cast("double") * 0.03125).as("y"),
        (base * 0.5 + ((col("user_id") * 29) % 8).cast("double")
          / 16.0).as("x"))
      EventStream.windowedCuped(scored, "arm", "arm0", "arm1", "y",
          "x", width = "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n_a"), col("n_b"), col("theta"), col("delta_raw"),
          col("se_raw"), col("delta"), col("se"), col("z"),
          col("p_value"), col("decidable"))
        .orderBy("window_start")
    }),

    // CLUSTER-ROBUST two-sample mSPRT: ~12 events per unit with arm
    // constant per unit — unit totals become the observations, so
    // within-unit correlation can no longer shrink V and spend more
    // alpha than declared; plug-in pooled variance over unit totals
    "q_stream_ab_msprt_unit" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val unit = col("user_id") % 512
      val base = ((col("user_id") * 13) % 16).cast("double") / 16.0
      val scored = ev.select(col("ts"), unit.as("unit"),
        concat(lit("arm"), (unit % 2).cast("string")).as("arm"),
        (base + (unit % 2).cast("double") * 0.03125).as("y"))
      EventStream.windowedAbMixtureSprt(scored, "arm", "arm0", "arm1",
          "y", sigma2 = None, tau2 = 0.0625, alpha = 0.05,
          width = "1 hour", unitCol = Some("unit"))
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n"), col("na_cum"), col("nb_cum"), col("delta_cum"),
          col("var_used"), col("log_lambda"), col("p_value"),
          col("reject"), col("decidable"))
        .orderBy("window_start")
    }),

    // per-window empirical-Bayes shrinkage: the live "which slices
    // carry the effect" ranking with small noisy slices pulled to the
    // window pool — ordered moments run PARTITIONED by window, the
    // oracle replays them with the same window functions
    "q_stream_eb" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val scored = ev.select(col("ts"),
        concat(lit("g"), ((col("user_id") % 4) * (col("user_id") % 3))
          .cast("string")).as("slice"),
        (((col("user_id") * 37) % 97) % 2).cast("int").as("succ"))
      EventStream.windowedEbRates(scored, "slice", "succ",
          width = "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("slice"), col("n"), col("successes"), col("rate"),
          col("shrink_factor"), col("shrunk_rate"), col("decidable"))
        .orderBy("window_start", "slice")
    }),

    // per-window ratio-metric delta (CTR-style) under unit
    // randomization: unit totals per window, delta-method variance —
    // the chain is single-sourced with the batch q_ratio_delta
    "q_stream_ratio" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val unit = col("user_id") % 512
      val scored = ev.select(col("ts"), unit.as("unit"),
        concat(lit("arm"), (unit % 2).cast("string")).as("arm"),
        (((col("user_id") * 13) % 8).cast("double") / 8.0
          + (unit % 2).cast("double") * 0.0625).as("clicks"),
        (lit(1) + (col("user_id") * 7) % 4).cast("double").as("imps"))
      EventStream.windowedRatioDelta(scored, "arm", "arm0", "arm1",
          "clicks", "imps", "unit", width = "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n_a"), col("n_b"), col("ratio_a"), col("ratio_b"),
          col("delta"), col("se"), col("z"), col("p_value"),
          col("decidable"))
        .orderBy("window_start")
    }),

    // streaming SRM monitor: a 50/50 design whose actual hash sends
    // 9/16 of users to arm a — the per-window chi2 must flag the
    // mismatch the hour it appears (df = 1: the erfc closed form)
    "q_stream_srm" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val scored = ev.select(col("ts"),
        when((col("user_id") * 13) % 16 < 9, "a").otherwise("b")
          .as("arm"))
      EventStream.windowedSrm(scored, "arm",
          Seq("a" -> 0.5, "b" -> 0.5), alpha = 0.001,
          width = "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n"), col("chi2"), col("df"), col("p_value"), col("srm"))
        .orderBy("window_start")
    }),

    // always-valid confidence sequence on the same running mean the
    // mixture SPRT tests — the interval dual (0 outside the sequence
    // exactly when the mSPRT rejects); closed-form radius in the
    // cumulative (n, S), replayed by the oracle
    "q_stream_confseq" -> ((s, dir) => {
      val ev = EventStream.loadEvents(s, dir)
      val scored = ev.select(col("ts"),
        ((((col("user_id") * 13) % 9) - 4).cast("double") / 8.0
          + lit(0.015625)).as("delta"))
      EventStream.windowedConfidenceSeq(scored, "delta",
          sigma2 = Some(0.125), tau2 = 0.0625, alpha = 0.05,
          width = "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("n"), col("n_cum"), col("mean_cum"), col("var_used"),
          col("radius"), col("ci_lo"), col("ci_hi"), col("decidable"))
        .orderBy("window_start")
    }),

    // robust per-type outlier census on event values: median/MAD rule
    // at k=2 with exact interpolated percentiles (the oracle-pinnable
    // form; approx_percentile is the documented 100 TB default)
    "q_mad_outliers" -> ((s, dir) =>
      TextAnalysis.madOutliers(T(s, dir, "events"), "value", "event_type",
          k = 2.0, exact = true)
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type")),

    // streaming exact dedup (ingest-pipeline analog of Dedup.exactKeepFirst);
    // the aggregate over the deduped frame is survivor-independent, so the
    // batch-parity oracle is deterministic
    "q_stream_dedup" -> ((s, dir) =>
      EventStream.dedupEvents(T(s, dir, "events"), Seq("user_id", "event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_unique_users"))
        .orderBy("event_type")),

    "q_stream_session" -> ((s, dir) =>
      EventStream.sessions(T(s, dir, "events"), "30 minutes")
        .select(date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_start"),
          col("user_id"), col("n_events"), round(col("total"), 4).as("total"))
        .orderBy("user_id", "session_start")),

    // gap-based sessionization via windows (the hand-rolled form)
    "q_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts")
      val gapUs = 1800L * 1000000L
      T(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") >= gapUs, 1).otherwise(0))
        .withColumn("sess_id", sum(col("new_sess"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_id").agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(max(col("sess_id")).as("n_sessions"), max(col("n")).as("longest"))
        .orderBy("user_id")
    }),

    // stream-stream interval join (click→purchase attribution within 1 h),
    // checked via batch parity: the same builder runs on the batch frame
    "q_stream_join" -> ((s, dir) =>
      EventStream.intervalJoin(T(s, dir, "events"), "click", "purchase",
          within = "1 hour")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("r_value")), 4).as("total_value"))
        .orderBy("user_id")),

    // REAL streaming near-dup: incoming documents arrive via a file stream
    // and are flagged against a precomputed static LSH index (stream-static
    // equi-join + inline Jaccard verify — the ingest-time dedup shape).
    // Derived check: the streamed pair set must EXACTLY equal the batch
    // incrementalNearDup output on the same corpus/batch split.
    "q_stream_neardup" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val arriving = docs.filter(col("doc_id") % 7 === 0).select("doc_id", "text")
      val corpus = docs.filter(col("doc_id") % 7 =!= 0)
      val idx = pin(Dedup.nearDupIndex(corpus, "text", "doc_id"))
      val dDir = tmp("q_stream_neardup_docs")
      arriving.write.mode("overwrite").parquet(dDir)
      val stream = s.readStream.schema(arriving.schema).parquet(dDir)
      EventStream.runToMemory(
        Dedup.nearDupAgainstIndex(stream, idx, "text", "doc_id", threshold = 0.6),
        "q_stream_neardup_out", mode = "append")
      val got = pin(s.table("q_stream_neardup_out"))
      val want = pin(Dedup.incrementalNearDup(arriving, corpus, "text", "doc_id",
        threshold = 0.6))
      val keys = Seq("id_new", "id_old", "jaccard")
      val one = got.agg(count(lit(1)).as("n_got"))
        .crossJoin(want.agg(count(lit(1)).as("n_want")))
        .crossJoin(got.join(want, keys, "left_anti").agg(count(lit(1)).as("n_extra")))
        .crossJoin(want.join(got, keys, "left_anti").agg(count(lit(1)).as("n_miss")))
      checkRows(one,
        "pairs_nonempty" -> (col("n_got") >= 1),
        "matches_batch_exactly" ->
          (col("n_extra") === 0 && col("n_miss") === 0 &&
            col("n_got") === col("n_want")))
    }),

    // ===== dedup family ==================================================
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(T(s, dir, "documents"), "text", "doc_id").orderBy("doc_id")),

    // Derived check (bucket membership isn't SQL-expressible): the emitted
    // pair set must be an exact-Jaccard-verified SUBSET of the in-engine
    // all-pairs baseline (precision 1.0 by construction — asserted, not
    // assumed) and recover at least MinhashRecallFloor of it.
    "q_dedup_minhash" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val mh = pin(Dedup.minHashDedup(docs, "text", "doc_id", threshold = 0.6)
        .select("id_a", "id_b"))
      val exact = pin(Dedup.ngramJaccardPairs(docs, "text", "doc_id", Nil,
        n = 3, threshold = 0.6).select("id_a", "id_b"))
      val keys = Seq("id_a", "id_b")
      val one = mh.agg(count(lit(1)).as("n_mh"))
        .crossJoin(mh.join(exact, keys, "left_anti").agg(count(lit(1)).as("n_bad")))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .crossJoin(exact.join(mh, keys, "left_anti").agg(count(lit(1)).as("n_miss")))
      checkRows(one,
        "pairs_nonempty" -> (col("n_mh") >= 1),
        "precision_exact" -> (col("n_bad") === 0),
        "recall_floor" ->
          (col("n_miss").cast("double") <= col("n_exact") * (1 - MinhashRecallFloor)))
    }),

    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(T(s, dir, "documents"), "text", "doc_id",
        blockCols = Seq("lang"), n = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")),

    // fuzzy (edit-distance) pair join via the SymSpell deletion-
    // neighborhood: complete for lev <= 1, verified with exact
    // levenshtein — record-linkage / typo clustering without all-pairs
    "q_fuzzy_pairs" -> ((s, dir) =>
      Fuzzy.editDistancePairs(T(s, dir, "customer"), "c_name", "c_custkey",
        maxDist = 1)
        .orderBy("id_a", "id_b")),

    // radius-2 deletion neighborhood (the O(L²)-keys regime): 204k true
    // pairs at sf0.01 — exercises the two-level variant generation and
    // the candidate pruning at a 10× denser output than d=1
    "q_fuzzy_pairs_d2" -> ((s, dir) =>
      Fuzzy.editDistancePairs(T(s, dir, "customer"), "c_name", "c_custkey",
        maxDist = 2)
        .orderBy("id_a", "id_b")),

    // probe-against-reference fuzzy matching (the stream-static form,
    // here run batch): every (probe, reference) pair within one edit
    "q_fuzzy_match" -> ((s, dir) => {
      val cust = T(s, dir, "customer")
      Fuzzy.matchAgainst(cust.filter(col("c_custkey") < 50), cust,
        "c_name", "c_custkey", "c_name", "c_custkey", maxDist = 1)
        .orderBy("probe_id", "ref_id")
    }),

    // transposition-aware fuzzy pairs: full Damerau-Levenshtein verify
    // (codegen DamerauLevenshtein expression, the DuckDB definition) over
    // the SAME deletion-neighborhood candidates — digit swaps surface as
    // distance 1 here where plain levenshtein says 2
    "q_fuzzy_damerau" -> ((s, dir) =>
      Fuzzy.editDistancePairs(T(s, dir, "customer"), "c_name", "c_custkey",
        maxDist = 1, damerau = true)
        .orderBy("id_a", "id_b")),

    // sorted-neighborhood linkage (Hernandez & Stolfo): one global sort
    // by the name, pairs within 8 consecutive positions verified to
    // levenshtein <= 2 — the domain-sort-key complement to the
    // deletion-neighborhood join
    "q_fuzzy_snm" -> ((s, dir) =>
      Fuzzy.sortedNeighborhoodPairs(T(s, dir, "customer"),
        "c_name", "c_custkey", window = 8, maxDist = 2,
        assumeDeterministic = true)
        .orderBy("id_a", "id_b")),

    // persisted fuzzy-match index (SymSpell dictionary shape): reference
    // deletion keys precomputed once, probes join the stored key table —
    // must EQUAL the inline matchAgainst, so it shares that oracle
    "q_fuzzy_match_index" -> ((s, dir) => {
      val cust = T(s, dir, "customer")
      Fuzzy.buildMatchIndex(cust, "c_name", "c_custkey",
        tmp("q_fuzzy_match_index"), maxDist = 1)
      Fuzzy.matchAgainstIndex(s, tmp("q_fuzzy_match_index"),
        cust.filter(col("c_custkey") < 50), "c_name", "c_custkey")
        .orderBy("probe_id", "ref_id")
    }),

    // SNM with a Jaro-Winkler verify (codegen expression matching DuckDB's
    // jaro_winkler_similarity bit-for-bit at round 6): the person/entity
    // name measure — prefix-weighted, suffix-noise tolerant
    "q_fuzzy_jw" -> ((s, dir) =>
      Fuzzy.sortedNeighborhoodJaroWinkler(T(s, dir, "customer"),
        "c_name", "c_custkey", window = 8, minSim = 0.9,
        assumeDeterministic = true)
        .orderBy("id_a", "id_b")),

    // BLOCKED fuzzy pairs → connected components: typo clusters within a
    // blocking key (the 100 TB record-linkage shape — here the market
    // segment stands in for the cheap blocking key a real linkage picks)
    "q_fuzzy_clusters" -> ((s, dir) => {
      val pairs = Fuzzy.editDistancePairs(T(s, dir, "customer"),
        "c_name", "c_custkey", maxDist = 1,
        blockCols = Seq("c_mktsegment"))
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("c_custkey"), col("rep"))
        .orderBy("c_custkey")
    }),

    // exact substring-level dedup stats: per-doc count/fraction of 5-token
    // windows that also occur in another document (Lee et al. 2022)
    "q_dedup_substring" -> ((s, dir) =>
      Dedup.duplicateSpanStats(T(s, dir, "documents"), "text", "doc_id",
        n = 5, minDf = 2)
        .orderBy("doc_id")),

    // duplicate-segment REMOVAL (CCNet/RefinedWeb boilerplate dedup):
    // segments occurring >= 2 times corpus-wide are cut out and the
    // surviving text reassembled — exact-checked against DuckDB doing the
    // same segmentation and rewrite
    "q_dedup_rewrite" -> ((s, dir) =>
      Dedup.dedupTextSegments(T(s, dir, "documents"), "text", "doc_id",
        segTokens = 10, minDf = 2)
        .orderBy("doc_id")),

    // duplicate clusters: connected components over the (exact, oracle-
    // checkable) ngram pair list; rep = min doc_id per component. The
    // DuckDB oracle computes the same closure with a recursive CTE.
    "q_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(T(s, dir, "documents"), "text",
        "doc_id", blockCols = Seq("lang"), n = 3, threshold = 0.5)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("rep"))
        .orderBy("doc_id")
    }),

    // the keep/drop decision over real dup clusters: best member per
    // cluster survives (longest text, ties to lowest id), untouched
    // documents pass through
    "q_dedup_keep" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        blockCols = Seq("lang"), n = 3, threshold = 0.5)
      Dedup.keepRepresentatives(docs, pairs, "doc_id", length(col("text")))
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("text_len"))
        .orderBy("doc_id")
    }),

    // Derived check: quarter-blocking is COMPLETE for hamming ≤ 3
    // (pigeonhole), so the blocked result must EQUAL the brute-force
    // all-pairs result — asserted both directions.
    "q_dedup_simhash" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val blocked = pin(Dedup.simHashDedup(docs, "text", "doc_id", maxDist = 3)
        .select("id_a", "id_b"))
      val sigs = docs.select(col("doc_id"), Dedup.simHash(col("text")).as("sig"))
      val all = pin(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
        .crossJoin(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")))
        .filter(col("id_a") < col("id_b"))
        .filter(Dedup.hamming64(col("sig_a"), col("sig_b")) <= 3)
        .select("id_a", "id_b"))
      val keys = Seq("id_a", "id_b")
      val one = blocked.agg(count(lit(1)).as("n_blk"))
        .crossJoin(blocked.join(all, keys, "left_anti").agg(count(lit(1)).as("n_extra")))
        .crossJoin(all.join(blocked, keys, "left_anti").agg(count(lit(1)).as("n_missing")))
      checkRows(one,
        "pairs_nonempty" -> (col("n_blk") >= 1),
        "no_false_pairs" -> (col("n_extra") === 0),
        "complete_vs_allpairs" -> (col("n_missing") === 0))
    }),

    "q_dedup_embed" -> ((s, dir) =>
      Dedup.embeddingNearDup(T(s, dir, "embeddings"), "embedding", "vec_id",
        threshold = 0.4, blockCols = Seq("label")).orderBy("id_a", "id_b")),

    // Derived check: LSH-blocked near-dups must be a subset of the exact
    // all-pairs set (precision 1.0) with recall above the measured floor.
    "q_dedup_embed_lsh" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val lsh = pin(Dedup.embeddingNearDupLSH(emb, "embedding", "vec_id",
        threshold = 0.4, nPlanes = 4, dim = 64).select("id_a", "id_b"))
      val exact = pin(Dedup.embeddingNearDup(emb, "embedding", "vec_id",
        threshold = 0.4, Nil).select("id_a", "id_b"))
      val keys = Seq("id_a", "id_b")
      val one = lsh.agg(count(lit(1)).as("n_lsh"))
        .crossJoin(lsh.join(exact, keys, "left_anti").agg(count(lit(1)).as("n_bad")))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .crossJoin(exact.join(lsh, keys, "left_anti").agg(count(lit(1)).as("n_miss")))
      checkRows(one,
        "pairs_nonempty" -> (col("n_lsh") >= 1),
        "precision_exact" -> (col("n_bad") === 0),
        "recall_floor" ->
          (col("n_miss").cast("double") <= col("n_exact") * (1 - EmbedLshRecallFloor)))
    }),

    // k-means clustering exposed as a curation operator: derived check —
    // the codegen NearestCentroid assignment must equal an independent
    // UDF argmin over the SAME centroids (expression-vs-UDF parity, the
    // scoreColumn pattern), rerun deterministically, land in [0, k), and
    // cover the whole corpus with more than one populated cell. ONE fit:
    // both assignment passes and the brute UDF share `cents`, so the
    // checks test the assignment scan itself, not MLlib refit stability.
    "q_cluster" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val k = 8
      val cents = Similarity.fitKmeans(emb, "embedding", k)
      val assigned = pin(Similarity.assignClusters(emb, "embedding",
        "vec_id", cents))
      val again = pin(Similarity.assignClusters(emb, "embedding",
          "vec_id", cents))
        .withColumnRenamed("cluster", "cluster2")
      // Seq[Double] + boundary cast: survives the embedding column
      // shipping as array<float> or array<double>. The float→double cast
      // is exact, so the argmin matches the kernel's float-path distances.
      val brute = udf((a: Seq[Double]) => {
        var best = -1; var bd = Double.MaxValue; var i = 0
        while (i < cents.length) {
          val c = cents(i); var d = 0d; var j = 0
          while (j < math.min(c.length, a.length)) {
            val t = c(j) - a(j); d += t * t; j += 1
          }
          if (d < bd) { bd = d; best = i }
          i += 1
        }
        best
      })
      val one = assigned
        .join(emb.select(col("vec_id"),
          brute(col("embedding").cast("array<double>")).as("bcl")), "vec_id")
        .join(again, "vec_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("cluster") === col("bcl"), 0).otherwise(1)).as("n_mismatch"),
          sum(when(col("cluster") === col("cluster2"), 0).otherwise(1)).as("n_det"),
          countDistinct(col("cluster")).as("n_cells"),
          min(col("cluster")).as("min_c"), max(col("cluster")).as("max_c"))
        .crossJoin(emb.agg(count(lit(1)).as("n_emb")))
      checkRows(one,
        "assign_matches_bruteforce" -> (col("n_mismatch") === 0),
        "deterministic" -> (col("n_det") === 0),
        "cells_in_range" -> (col("min_c") >= 0 && col("max_c") < k),
        "covers_corpus" -> (col("n") === col("n_emb")),
        "multiple_cells" -> (col("n_cells") > 1))
    }),

    // ===== scalar functions: dates =======================================
    "q_scalar_date" -> ((s, dir) =>
      T(s, dir, "lineitem").select(liKey.map(col) ++ Seq(
          datediff(col("l_shipdate"), lit("1995-01-01")).as("days_since"),
          date_format(date_add(col("l_shipdate"), 30), "yyyy-MM-dd").as("plus30"),
          date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM-dd").as("month_start"),
          dayofweek(col("l_shipdate")).as("dow"),
          quarter(col("l_shipdate")).as("qtr")): _*)
        .orderBy(liKey.map(col): _*)),

    // ===== similarity search =============================================
    "q_ann_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 8), emb,
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),

    // matryoshka truncation (MRL): pairwise cosines of 16-of-64-dim
    // truncated + renormalized embeddings; oracle = DuckDB slices,
    // renormalizes, and re-scores the same lists, exact at round(6)
    "q_embed_truncate" -> ((s, dir) => {
      val e = Similarity.truncateEmbeddings(
        T(s, dir, "embeddings").filter(col("vec_id") < 10), "embedding", 16)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(Dedup.cosine(col("va"), col("vb")), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    // the matryoshka search cascade: 32-of-64-dim truncated shortlist
    // (k·refine candidates at half the scan cost), full-dim exact
    // re-rank. These synthetic embeddings are NOT MRL-trained — the
    // prefix carries only ~half the variance — so the refine width is
    // the knob that buys recall back: measured per-query recall@5 on
    // this fixture is 1.0 at (dim=32, refine=40) vs min 0.4 at
    // (dim=16, refine=10), giving the 0.8 floor a full 0.2 margin
    // (gate is data-pinned; recalibrate if the fixture regenerates)
    "q_ann_matryoshka" -> ((s, dir) =>
      annRecallCheck(s, dir, floor = 0.8) { (q, emb) =>
        Similarity.matryoshkaTopK(q, emb,
          "vec_id", "embedding", "vec_id", "embedding",
          k = 5, dim = 32, refine = 40)
      }),

    // persisted matryoshka index: the truncated prefix column is
    // precomputed once next to the full vectors (dim in the sidecar),
    // so a query batch pays only the dim/d-pruned coarse scan + the
    // shortlist re-rank — same shortlist pool as the inline cascade,
    // same measured recall (1.0 at dim=32/refine=40), same floor
    "q_ann_matryoshka_index" -> ((s, dir) =>
      annRecallCheck(s, dir, floor = 0.8) { (q, emb) =>
        Similarity.buildMatryoshkaIndex(emb, "vec_id", "embedding",
          tmp("q_ann_matryoshka_index"), dim = 32)
        Similarity.matryoshkaSearchIndex(s, tmp("q_ann_matryoshka_index"),
          q, "vec_id", "embedding", k = 5, refine = 40)
      }),

    // binary-quantization hamming distances: pairwise Hamming between
    // the mean-threshold sign-bit codes of the first 10 vectors, fitted
    // on the FULL corpus; oracle recomputes the same bit comparisons
    // from the raw floats (no packing needed SQL-side) — exact integers.
    // The thresholds are ROUNDED to 9 decimals on both engines: the raw
    // means are partition-order-dependent double sums, and a coordinate
    // within an ulp of its dimension mean could otherwise flip a sign
    // bit between engines (the r13 flake class)
    "q_embed_bq_hamming" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val codes = Similarity.bqEncode(
        emb.filter(col("vec_id") < 10), "embedding",
        Similarity.fitBq(emb, "embedding").map(m =>
          BigDecimal(m).setScale(9, BigDecimal.RoundingMode.HALF_UP)
            .toDouble))
      val a = codes.select(col("vec_id").as("id_a"), col("embedding").as("ca"))
      val b = codes.select(col("vec_id").as("id_b"), col("embedding").as("cb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Similarity.hamming(col("ca"), col("cb")).as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // the 1-bit tier: BQ hamming shortlist + exact re-rank. 64 sign
    // bits over untrained isotropic embeddings rank weakly (this is the
    // lossiest tier by design), so refine is wide at this 500-row
    // fixture — measured per-query recall@5 is 1.0 at refine=48 vs min
    // 0.2 at refine=16, giving the 0.8 floor a 0.2 margin (data-pinned;
    // recalibrate if the fixture regenerates). At corpus scale the
    // k·refine shortlist is a vanishing fraction of the scan.
    "q_ann_bq" -> ((s, dir) =>
      annRecallCheck(s, dir, floor = 0.8) { (q, emb) =>
        Similarity.bqTopK(q, emb,
          "vec_id", "embedding", "vec_id", "embedding",
          k = 5, refine = 48)
      }),

    // persisted BQ index: thresholds fitted and corpus packed once
    // (codes + vectors in one table, thresholds in the sidecar); the
    // Hamming scan column-prunes to the d/8-byte codes and the
    // shortlist re-ranks against the pruned vector fetch — same
    // shortlist pool as the inline tier, same measured recall (1.0 at
    // refine=48), same floor
    "q_ann_bq_index" -> ((s, dir) =>
      annRecallCheck(s, dir, floor = 0.8) { (q, emb) =>
        Similarity.buildBqIndex(emb, "vec_id", "embedding",
          tmp("q_ann_bq_index"))
        Similarity.bqSearchIndex(s, tmp("q_ann_bq_index"), q,
          "vec_id", "embedding", k = 5, refine = 48)
      }),

    // ColBERT-style late-interaction scoring: per-token 8-dim sin
    // embeddings (deterministic from the token text, so the oracle
    // rebuilds them), maxsim = Σ_q max_d cos — 3 query docs × 20 corpus
    // docs, exact at round(6)
    "q_maxsim" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      def tokEmb = transform(
        slice(TextAnalysis.nonEmptyTokens(col("text")), 1, 4),
        t => transform(sequence(lit(0), lit(7)), j =>
          sin(ascii(t) * 31 + length(t) * 7 + j)))
      val q = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("qid"), tokEmb.as("qe"))
      val c = docs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("did"), tokEmb.as("de"))
      c.crossJoin(broadcast(q))
        .select(col("qid"), col("did"),
          round(Similarity.maxSim(col("qe"), col("de")), 6).as("maxsim"))
        .orderBy("qid", "did")
    }),

    // topic dendrogram over the corpus's 8 k-means cells: derived
    // checks pin the tree's invariants — k−1 merges, a root covering
    // every cell, NONDECREASING merge distances (the single-linkage
    // monotonicity theorem), min-member cluster naming, and distances
    // inside the cosine range
    "q_topic_tree" -> ((s, dir) => {
      val t = pin(Similarity.topicDendrogram(T(s, dir, "embeddings"),
        "embedding", nlist = 8))
      val viol = t.as("a").join(t.as("b"),
          col("a.step") === col("b.step") + 1)
        .filter(col("a.dist") < col("b.dist"))
        .agg(count(lit(1)).as("n_dec"))
      val one = t.agg(count(lit(1)).as("n_merges"),
          max("size").as("max_size"), min("dist").as("min_d"),
          max("dist").as("max_d"),
          sum(when(col("left") < col("right") && col("left") >= 0 &&
            col("right") <= 7, 0).otherwise(1)).as("n_bad"))
        .crossJoin(viol)
      checkRows(one,
        "k_minus_1_merges" -> (col("n_merges") === 7),
        "root_covers_all_cells" -> (col("max_size") === 8),
        "merge_dists_nondecreasing" -> (col("n_dec") === 0),
        "names_are_min_member_cells" -> (col("n_bad") === 0),
        "dists_in_cosine_range" -> (col("min_d") >= 0.0 &&
          col("max_d") <= 2.0))
    }),

    // Procrustes embedding-space alignment: the target space is the
    // source pushed through a KNOWN rotation+shift (so ground truth
    // exists); derived checks pin the recovered map — orthogonal R,
    // near-zero residual reproducing the target, and a strict
    // improvement over the unaligned distance
    "q_embed_align" -> ((s, dir) => {
      val d = 64
      val theta = 0.6
      val g = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
      g(0)(0) = math.cos(theta); g(2)(2) = math.cos(theta)
      g(0)(2) = math.sin(theta); g(2)(0) = -math.sin(theta)
      val shift = Array.tabulate(d)(j => j * 0.01 - 0.3)
      val truth = Pca.ProcrustesModel(g, Array.fill(d)(0.0), shift)
      val x = T(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("x"))
      val pairs = pin(Pca.alignEmbeddings(x, "x", "vec_id", truth)
        .withColumnRenamed("aligned", "y")
        .join(x, "vec_id"))
      val m = Pca.fitProcrustes(pairs, "x", "y")
      val orthoOk = (0 until d).forall(a => (0 until d).forall { b =>
        val dot = (0 until d).map(i => m.rotation(i)(a) * m.rotation(i)(b)).sum
        math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-9
      })
      def msd(u: Column, v: Column) = avg(aggregate(
        zip_with(u, v, (a, b) => (a.cast("double") - b) *
          (a.cast("double") - b)),
        lit(0d), (acc, z) => acc + z))
      val one = Pca.alignEmbeddings(pairs, "x", "vec_id", m)
        .join(pairs, "vec_id")
        .agg(msd(col("aligned"), col("y")).as("__res"),
          msd(col("x"), col("y")).as("__raw"))
      checkRows(one,
        "rotation_orthogonal" -> lit(orthoOk),
        "residual_tiny" -> (col("__res") < 1e-9),
        "beats_unaligned" -> (col("__res") < col("__raw")))
    }),

    // MMR diversification over a brute-force top-20 shortlist: derived
    // checks pin the greedy's contract — λ=1 degenerates to exact
    // top-k (set equality vs the independent TopKAgg path), picks stay
    // inside the candidate set, the first pick is each query's
    // max-relevance candidate, and every query yields exactly k rows
    "q_ann_mmr" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val cand = pin(Similarity.bruteForceTopK(q, emb,
          "vec_id", "embedding", "vec_id", "embedding", k = 20)
        .join(emb.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("nv")), "neighbor_id"))
      val mmr = pin(Similarity.mmrRerank(cand, "query_id", "neighbor_id",
        "cosine", "nv", k = 5, lambda = 0.7))
      val relOnly = pin(Similarity.mmrRerank(cand, "query_id", "neighbor_id",
        "cosine", "nv", k = 5, lambda = 1.0))
      val top5 = pin(Similarity.bruteForceTopK(q, emb,
        "vec_id", "embedding", "vec_id", "embedding", k = 5))
      val one = mmr.agg(count(lit(1)).as("n_mmr"))
        .crossJoin(mmr.join(cand.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_anti")
          .agg(count(lit(1)).as("n_outside")))
        .crossJoin(mmr.filter(col("rank") === 1)
          .join(cand.filter(col("rank") === 1)
            .select(col("query_id"), col("neighbor_id").as("best")),
            "query_id")
          .filter(col("neighbor_id") =!= col("best"))
          .agg(count(lit(1)).as("n_misfirst")))
        .crossJoin(relOnly.select("query_id", "neighbor_id")
          .exceptAll(top5.select("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("n_extra")))
      checkRows(one,
        "k_rows_per_query" -> (col("n_mmr") === 8 * 5),
        "subset_of_candidates" -> (col("n_outside") === 0),
        "first_pick_is_max_relevance" -> (col("n_misfirst") === 0),
        "lambda1_equals_topk" -> (col("n_extra") === 0))
    }),

    // hard-negative mining: per query, the top-5 most-similar vectors of a
    // DIFFERENT label (the contrastive-training near-misses); same
    // broadcast-scan + bounded-heap top-k plan as q_ann_topk
    "q_ann_negatives" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.hardNegatives(
        emb.filter(col("vec_id") < 8), emb,
        "vec_id", "embedding", "label", "vec_id", "embedding", "label", k = 5)
        .orderBy("query_id", "rank")
    }),

    // Derived checks: cell/bucket assignment isn't SQL-expressible, but
    // per-query recall@5 vs the in-engine brute-force baseline is a
    // deterministic property the oracle reproduces as constant `true` rows.
    "q_ann_ivf" -> ((s, dir) =>
      annRecallCheck(s, dir, IvfRecallFloor) { (q, c) =>
        Similarity.ivfTopK(q, c, "vec_id", "embedding", "vec_id", "embedding",
          k = 5, nlist = 8, nprobe = 4)
      }),

    // persisted IVF index: build once (partitioned by cell, centroids in
    // the sidecar), search with static partition pruning — the 100 TB
    // batch-ANN shape, same recall floor as the inline variant
    "q_ann_ivf_index" -> ((s, dir) =>
      annRecallCheck(s, dir, IvfRecallFloor) { (q, c) =>
        Similarity.buildIvfIndex(c, "vec_id", "embedding",
          tmp("q_ann_ivf_index"), nlist = 8)
        Similarity.ivfSearchIndex(s, tmp("q_ann_ivf_index"), q,
          "vec_id", "embedding", k = 5, nprobe = 4)
      }),

    // persisted IVF-PQ (the FAISS IVFPQ shape): coarse cells prune
    // partitions, PQ codes compress the first-pass scan, candidates
    // re-rank exactly against the id-sorted vector table
    "q_ann_ivfpq" -> ((s, dir) =>
      annRecallCheck(s, dir, PqRecallFloor) { (q, c) =>
        Similarity.buildIvfPqIndex(c, "vec_id", "embedding",
          tmp("q_ann_ivfpq"), nlist = 8, m = 16, ksub = 32)
        Similarity.ivfPqSearchIndex(s, tmp("q_ann_ivfpq"), q,
          "vec_id", "embedding", k = 5, nprobe = 4, refine = 16)
      }),

    // PQ (product quantization): corpus compressed to m small codes per
    // vector, ADC table-lookup scoring, exact re-rank of k·refine
    // candidates — the memory-bound ANN shape (the 64-dim float corpus
    // scans 4× smaller at m=16 int codes, 16× as bytes). Same per-query
    // recall floor protocol as IVF.
    "q_ann_pq" -> ((s, dir) =>
      annRecallCheck(s, dir, PqRecallFloor) { (q, c) =>
        Similarity.pqTopK(q, c, "vec_id", "embedding", "vec_id", "embedding",
          k = 5, m = 16, ksub = 32, refine = 16)
      }),

    // SQ8 scalar quantization (1 byte/dim): the cheapest compression
    // tier — 255 levels per dimension keep the approximate cosine order
    // near-exact, so a small refine recovers full recall
    "q_ann_sq8" -> ((s, dir) =>
      annRecallCheck(s, dir, Sq8RecallFloor) { (q, c) =>
        Similarity.sq8TopK(q, c, "vec_id", "embedding", "vec_id", "embedding",
          k = 5, refine = 4)
      }),

    // PCA-rotated PQ (the faiss PCAR,PQ recipe): candidates searched in
    // a 48-dim truncated rotation (the ADC scan reads 3/4 of the bytes
    // and decorrelated subspaces), exact re-rank in the ORIGINAL space.
    // The near-isotropic synthetic embeddings are the WORST case for
    // truncation (every direction carries variance), hence the lower
    // floor: measured per-query min 0.4 at both SFs, floor 0.2 = the
    // house 2x margin.
    "q_ann_pcapq" -> ((s, dir) =>
      annRecallCheck(s, dir, PcaPqRecallFloor) { (q, c) =>
        Similarity.pcaPqTopK(q, c, "vec_id", "embedding",
          "vec_id", "embedding", k = 5, pcaK = 48, m = 16, ksub = 32,
          refine = 24)
      }),

    // persisted PCAR-PQ index: basis + codebooks in the sidecar, flat
    // rotated codes table, id-sorted vector table for pruned exact
    // re-rank — the fit-once/search-many form. Recall is HIGHER than the
    // inline variant (the full k·refine ADC pool re-ranks directly in
    // the original space, no projected pre-truncation): measured 1.0
    // per-query at both SFs, floor 0.5.
    "q_ann_pcapq_index" -> ((s, dir) =>
      annRecallCheck(s, dir, PcaPqIndexRecallFloor) { (q, c) =>
        Similarity.buildPcaPqIndex(c, "vec_id", "embedding",
          tmp("q_ann_pcapq_index"), pcaK = 48, m = 16, ksub = 32)
        Similarity.pcaPqSearchIndex(s, tmp("q_ann_pcapq_index"), q,
          "vec_id", "embedding", k = 5, refine = 24)
      }),

    // LSH buckets are coarser than IVF cells (single-probe recall can hit 0
    // for an unlucky query), so the provable property is MEAN recall over
    // the query set, plus non-emptiness.
    "q_ann_lsh" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val exact = pin(Similarity.bruteForceTopK(q, emb,
          "vec_id", "embedding", "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id")))
      val app = pin(Similarity.lshTopK(q, emb,
          "vec_id", "embedding", "vec_id", "embedding",
          k = 5, nPlanes = 4, dim = 64)
        .select(col("query_id"), col("neighbor_id")))
      val one = exact.join(app, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(exact.agg(count(lit(1)).as("n_tot")))
        .crossJoin(app.agg(count(lit(1)).as("n_app")))
      checkRows(one,
        "results_nonempty" -> (col("n_app") >= 1),
        "mean_recall_floor" ->
          (col("n_hit").cast("double") >= col("n_tot") * LshRecallFloor))
    }),

    // PCA over the embedding corpus (one-pass covariance treeAggregate +
    // driver Jacobi, scan-side AffineProject apply — the faiss-PCAMatrix
    // pre-PQ stage). Exact oracle: a FULL-RANK rotation about the corpus
    // mean preserves every centered norm, and DuckDB recomputes per-row
    // ||x − mean||² straight from the data — so mean-centering AND basis
    // orthonormality are hash-checked end-to-end against SQL.
    "q_pca" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val m = Pca.fitPca(emb, "embedding")
      Pca.projectPca(emb, "embedding", "vec_id", m)
        .select(col("vec_id"),
          round(aggregate(col("pca"), lit(0.0), (acc, x) => acc + x * x), 6)
            .as("cnorm2"))
        .orderBy("vec_id")
    }),

    // Whitened PCA: every projected component must come out with
    // population variance EXACTLY 1 (its eigenvalue divides itself out) —
    // a literal the oracle states independently, so the whitening scale
    // and the eigenvalue computation are both on the hook.
    "q_pca_whiten" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val m = Pca.fitPca(emb, "embedding")
      Pca.projectPca(emb, "embedding", "vec_id", m, whiten = true)
        .select(posexplode(col("pca")).as(Seq("component", "y")))
        .groupBy("component")
        .agg(round(avg(col("y") * col("y")), 6).as("var_w"))
        .orderBy("component")
    }),

    // ===== text analysis =================================================
    "q_text_langid" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")),

    "q_text_quality" -> ((s, dir) =>
      T(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
          round(TextAnalysis.digitRatio(col("text")), 6).as("digit_ratio"),
          round(TextAnalysis.stopwordRatio(col("text")), 6).as("stopword_ratio"),
          round(TextAnalysis.meanWordLen(col("text")), 6).as("mean_word_len"),
          round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
        .orderBy("doc_id")),

    "q_text_tokens" -> ((s, dir) =>
      T(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.bpeTokenEstimate(col("text")).as("n_bpe"))
        .orderBy("doc_id")),

    "q_text_fingerprint" -> ((s, dir) =>
      T(s, dir, "documents")
        .filter(col("text").rlike("^[ -~]*$")) // ASCII-only docs (portable ord())
        .select(col("doc_id"), TextAnalysis.fingerprintExpr("text").as("fingerprint"))
        .orderBy("doc_id")),

    // dataset-card statistics per (source, lang): the release report
    "q_corpus_report" -> ((s, dir) =>
      TextAnalysis.corpusReport(T(s, dir, "documents"), "text",
          Seq("source", "lang"))
        .orderBy("source", "lang")),

    // Gopher-style repetition metrics (scan-side codegen NgramProfile pass)
    "q_text_repetition" -> ((s, dir) =>
      T(s, dir, "documents").select(
          col("doc_id"),
          round(TextAnalysis.topNgramFrac(col("text"), 1), 6).as("top_word_frac"),
          round(TextAnalysis.dupNgramFrac(col("text"), 2), 6).as("dup_bigram_frac"),
          round(TextAnalysis.topNgramFrac(col("text"), 2), 6).as("top_bigram_frac"),
          round(TextAnalysis.dupNgramFrac(col("text"), 3), 6).as("dup_trigram_frac"))
        .orderBy("doc_id")),

    // DEFLATE compressibility quality signal — derived checks: ratios are
    // positive and bounded; self-repetition strictly improves compression
    // on EVERY doc (the discriminative property the filter relies on)
    "q_compress_ratio" -> ((s, dir) => {
      val scored = pin(T(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.compressionRatio(col("text")).as("ratio"),
        TextAnalysis.compressionRatio(repeat(col("text"), 8)).as("ratio8")))
      val one = scored.agg(
        min("ratio").as("mn"), max("ratio").as("mx"),
        sum(when(col("ratio8") < col("ratio"), 0L).otherwise(1L)).as("viol"),
        count(lit(1)).as("n"))
      checkRows(one,
        "ratio_positive" -> (col("mn") > 0.0),
        "ratio_bounded" -> (col("mx") <= 2.0),
        "repetition_compresses" -> (col("viol") === 0L),
        "corpus_nonempty" -> (col("n") >= 1L))
    }),

    // unicode script profile on text augmented with a fixed multiscript
    // suffix (the ASCII corpus alone would make every fraction trivial);
    // oracle recomputes the same \x{..}-range counts
    "q_script_profile" -> ((s, dir) => {
      val aug = concat(col("text"), lit(" Привет мир 世界 مرحبا 123"))
      val fracs = TextAnalysis.scriptFracs(aug).map {
        case (n, c) => round(c, 6).as(s"${n}_frac")
      }
      T(s, dir, "documents")
        .select((col("doc_id") +: fracs): _*)
        .orderBy("doc_id")
    }),

    // URL canonicalization on deterministic messy URLs (case, default
    // port, tracking params, fragment); oracle replays the same chain
    "q_url_canonical" -> ((s, dir) => {
      val messy = concat(
        lit("HTTPS://WWW.Example"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit(".COM:443/Articles/Item"), col("doc_id").cast("string"),
        lit("/?utm_source=news&utm_medium=email&id="),
        col("doc_id").cast("string"),
        lit("&fbclid=XyZ123&ref=tw&page=2#section-"),
        col("doc_id").cast("string"))
      T(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.canonicalUrl(messy).as("canonical_url"))
        .orderBy("doc_id")
    }),

    // HTML → text extraction on a synthetic page wrapped around each doc
    // (script/style/comment payloads, block structure, entities); oracle
    // replays the identical RE2-portable chain in DuckDB bit-for-bit
    "q_html_extract" -> ((s, dir) => {
      val page = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><script type=\"text/javascript\">var x = 1 < 2;</script>"),
        lit("<style>p { color: red }</style></head><body><h1>Doc "),
        col("doc_id").cast("string"), lit("</h1><p>"), col("text"),
        lit("</p><ul><li>Tom &amp; Jerry</li><li>a &lt; b</li></ul>"),
        lit("<!-- hidden --><div>tail&nbsp;note</div></body></html>"))
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.stripHtml(page).as("page_text"))
        .orderBy("doc_id")
    }),

    // composite quality filter: first failing Gopher/quality rule names the
    // drop reason
    "q_text_filter" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.filterReason(col("text")).as("reason"))
        .orderBy("doc_id")),

    // PII redaction: the corpus text carries no PII, so both sides append
    // the same deterministic doc_id-derived email/phone/IP/SSN suffix and
    // the redaction + per-pattern counts are checked on the augmented text
    "q_text_pii" -> ((s, dir) => {
      val aug = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"), lit("@mail.example.org"),
        lit(" tel 555-210-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" host 10.2."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".7"),
        lit(" ssn 987-65-4321"))
      val counts = TextAnalysis.piiCounts(aug).map {
        case (n, c) => c.cast("int").as(n)
      }
      T(s, dir, "documents").select(
          (Seq(col("doc_id"),
            md5(TextAnalysis.redactPii(aug)).as("redacted_md5")) ++ counts): _*)
        .orderBy("doc_id")
    }),

    // deterministic stratified sampling (mixture weights by lang; the md5
    // bucket is bit-reproducible in any engine)
    "q_sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(T(s, dir, "documents"), "doc_id", "lang",
        Seq("en" -> 0.3, "zh" -> 0.1), defaultRate = 0.5)
        .select("doc_id", "lang").orderBy("doc_id")),

    // weighted sampling WITHOUT replacement (Efraimidis-Spirakis): top-60
    // docs by the exponential jitter -ln(u)/w with w = n_chars and u the
    // md5-uniform draw — weight-proportional subset selection any engine
    // reproduces exactly (same md5, same formula, same tie-break)
    "q_sample_weighted" -> ((s, dir) =>
      Sampling.sampleByWeight(
          T(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", col("n_chars"), n = 60)
        .orderBy("doc_id")),

    // deterministic training-export sharding: membership is a pure md5
    // function of the key, so any engine reproduces the same shards
    "q_shard" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), Sampling.shardId(col("doc_id"), 16).as("shard"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_id"),
          max("doc_id").as("max_id"))
        .orderBy("shard")),

    // token-budget selection: best-first (by n_chars) prefix of the corpus
    // whose running token total fits the budget — no one-task window
    "q_select_budget" -> ((s, dir) =>
      Sampling.selectTokenBudget(T(s, dir, "documents"), "doc_id",
        priority = col("n_chars"),
        tokens = TextAnalysis.tokenCount(col("text")), budget = 15000L)
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy("doc_id")),

    // z-order (Morton) clustering value — the multi-dimensional
    // data-skipping sort key, exact-checked bit-for-bit vs the oracle
    "q_zorder" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          Sampling.zValue(Seq(col("l_partkey"), col("l_suppkey")), 16).as("zval"))
        .orderBy("l_orderkey", "l_linenumber")),

    // deterministic epoch shuffle: every doc's position in the seeded
    // md5 permutation — reproducible training order on any engine
    "q_shuffle" -> ((s, dir) =>
      Sampling.deterministicShuffle(T(s, dir, "documents"), "doc_id", seed = 42L)
        .select(col("doc_id"), col("shuffle_pos"))
        .orderBy("doc_id")),

    // learned quality filter (fastText-style): hashed-unigram + length
    // logistic regression, distributed full-batch AdaGrad, distilling the
    // stopword-ratio heuristic labels on an md5 train/holdout split —
    // derived check: holdout accuracy floor, beats the majority class,
    // scores strictly inside (0,1)
    "q_quality_clf" -> ((s, dir) => {
      val one = scoredQualityHoldout(s, dir).agg(
        avg(((col("p") >= 0.5).cast("int") === col("label"))
          .cast("double")).as("acc"),
        avg(col("label").cast("double")).as("pos"),
        min("p").as("lo"), max("p").as("hi"))
      checkRows(one,
        "holdout_acc_floor" -> (col("acc") >= 0.70),
        "beats_majority" -> (col("acc") > greatest(col("pos"), lit(1.0) - col("pos"))),
        "scores_in_unit" -> (col("lo") > 0.0 && col("hi") < 1.0))
    }),

    // the evaluation pipeline end-to-end (the q_curation_e2e of the
    // eval leg): train the distilled quality filter, score the md5
    // holdout, then run binned AUC → calibration ECE → isotonic repair
    // → per-slice gaps → bootstrap CI over the SAME scored frame, each
    // leg's output pinned by a derived check
    "q_eval_e2e" -> ((s, dir) => {
      val scored = scoredQualityHoldout(s, dir)
        .select(col("doc_id"), col("source"),
          col("label").cast("double").as("y"), col("p"))
      val auc = ops.Classifier.rocAuc(scored, "p", "y",
        bins = Some(32)).head().getDouble(2)
      val ece = ops.Classifier.calibrationReport(scored, "p", "y")
        .filter(col("bin") === -1).head().getDouble(4)
      val fits = ops.Classifier.isotonicCalibration(
          scored.select((least(floor(col("p") * 20), lit(19)) / 20.0)
            .as("pq"), col("y")), "pq", "y")
        .orderBy("score_lo").collect().map(_.getDouble(3))
      val isoMono = fits.zip(fits.drop(1)).forall { case (a, b) => a <= b }
      val sliceRow = ops.Classifier.sliceAccuracy(
          scored.withColumn("pred", (col("p") >= 0.5).cast("int"))
            .withColumn("lbl", col("y").cast("int")),
          "lbl", "pred", "source")
        .agg(count(lit(1)).as("ns"), min("gap_vs_overall").as("wg"))
        .head()
      val (nSlices, worstGap) = (sliceRow.getLong(0), sliceRow.getDouble(1))
      val nSources = scored.agg(countDistinct("source")).head().getLong(0)
      val ci = ops.Classifier.bootstrapMeanCI(scored, "p", "doc_id",
        replicates = 30, alpha = 0.1).head()
      val one = s.range(1).toDF()
      checkRows(one,
        "auc_beats_random" -> lit(auc > 0.6),
        "ece_bounded" -> lit(ece >= 0.0 && ece <= 1.0),
        "isotonic_monotone" -> lit(isoMono && fits.nonEmpty),
        // EVERY holdout source must surface as its own slice — a
        // collapsed groupBy key would silently pass a count-only check
        "slices_cover_sources" -> lit(nSlices == nSources &&
          worstGap <= 0.0),
        "ci_straddles_mean" -> lit(ci.getDouble(3) <= ci.getDouble(1)
          && ci.getDouble(1) <= ci.getDouble(4)))
    }),

    // the evaluation leg composed EXACTLY (the cross-leg sibling of
    // q_eval_e2e): one pinned deterministic holdout (doc_id % 5 == 4,
    // label = id parity, score = label-shifted dyadic m/1024 so every
    // sum is exact) pushed through binned ROC AUC → calibration ECE →
    // per-slice worst gap → Poisson-bootstrap CI, emitted as ONE row
    // the DuckDB oracle replays bit-for-bit — a consistent cross-leg
    // bias (the one thing q_eval_e2e's derived checks cannot catch)
    // hash-mismatches here; q_eval_e2e keeps the learned-filter
    // (non-replayable) variant under its invariants
    "q_eval_e2e_exact" -> ((s, dir) => {
      import s.implicits._
      val d = T(s, dir, "documents").filter(col("doc_id") % 5 === 4)
      val scored = pin(d.select(col("doc_id"), col("source"),
        (col("doc_id") % 2).cast("double").as("y"),
        (((col("doc_id") % 2) * 300 +
          pmod(col("doc_id") * 37 + 11, lit(700))).cast("double") / 1024.0)
          .as("p")))
      val aucRow = ops.Classifier.rocAuc(scored, "p", "y",
        bins = Some(32)).head()
      val ece = ops.Classifier.calibrationReport(scored, "p", "y")
        .filter(col("bin") === -1).head().getDouble(4)
      val wg = ops.Classifier.sliceAccuracy(
          scored.withColumn("pred", (col("p") >= 0.5).cast("int"))
            .withColumn("lbl", col("y").cast("int")),
          "lbl", "pred", "source")
        .agg(min("gap_vs_overall")).head().getDouble(0)
      val ci = ops.Classifier.bootstrapMeanCI(
        scored.select(col("doc_id"), col("p")), "p", "doc_id",
        replicates = 40, alpha = 0.1).head()
      Seq((aucRow.getLong(0), aucRow.getLong(1), aucRow.getDouble(2),
        ece, wg, ci.getLong(0), ci.getDouble(1), ci.getDouble(2),
        ci.getDouble(3), ci.getDouble(4)))
        .toDF("n_pos", "n_neg", "auc", "ece", "worst_gap", "n", "mean",
          "se", "ci_lo", "ci_hi")
    }),

    // weighted upsampling: per-language epoch counts (en 2.4 epochs, de
    // 0.5, others 1.0) — floor(w) copies plus a deterministic md5-chosen
    // extra for the fractional part, exact-checked against DuckDB doing
    // the same draw arithmetic
    "q_upsample" -> ((s, dir) => {
      val w = when(col("lang") === "en", 2.4)
        .when(col("lang") === "de", 0.5).otherwise(1.0)
      Sampling.upsampleByWeight(
          T(s, dir, "documents").select(col("doc_id"), col("lang")),
          "doc_id", w)
        .orderBy("doc_id", "epoch")
    }),

    // temperature mixture (XLM-R §3.1 / mC4, alpha = 0.5): per-language
    // weights from the corpus census flatten the language distribution —
    // low-resource languages upweighted, the head downweighted — then the
    // same deterministic fractional-copy draw as q_upsample. Exact-checked
    // against DuckDB recomputing the census, sqrt shares, 6-decimal
    // rounded weights, and the draw arithmetic
    "q_temperature" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"))
      val w = Sampling.temperatureWeights(docs, "lang", alpha = 0.5)
      Sampling.upsampleByWeight(docs, "doc_id", w)
        .orderBy("doc_id", "epoch")
    }),

    // loss-driven domain reweighting (one-step DoReMi): integer-valued
    // synthetic proxy/reference losses make every per-source mean an
    // exact ratio; the oracle replays share*exp(eta*excess)/Z per domain
    "q_mixture_weights" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select(col("source"),
        ((col("doc_id").cast("long") * 13) % 7).cast("double").as("lp"),
        ((col("doc_id").cast("long") * 3) % 5).cast("double").as("lr"))
      Sampling.excessLossWeights(docs, "source", "lp", "lr", eta = 1.0)
        .withColumnRenamed("grp", "source")
        .orderBy("source")
    }),

    // per-stratum cap: at most 70 docs per language, chosen by smallest
    // md5 draw of doc_id — row_number-over-stratum semantics without a
    // one-task-per-stratum window (range sort + census-seeded ranks);
    // at sf0.01 this caps en/zh/es, hits de exactly, leaves fr under
    "q_cap_stratum" -> ((s, dir) =>
      Sampling.capPerStratum(
          T(s, dir, "documents").select(col("doc_id"), col("lang")),
          "doc_id", "lang", cap = 70L)
        .orderBy("doc_id")),

    // leakage-safe split: every row of a source lands in the same split,
    // by the source's md5 draw against cumulative thresholds
    "q_split_group" -> ((s, dir) =>
      Sampling.splitByGroup(
          T(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id")),

    // UniMax epoch-capped budget allocation — derived checks: no group
    // exceeds the epoch cap, each group's weight is a single constant,
    // the emitted budget matches the target, and all uncapped groups
    // receive the same row budget (the water-fill's defining property)
    "q_unimax" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val w = Sampling.unimaxWeights(docs, "lang", budgetScale = 1.5,
        maxEpochs = 4.0)
      val perGroup = pin(docs.select(col("lang"), w.as("epochs"))
        .groupBy("lang").agg(count(lit(1)).as("n"),
          first("epochs").as("epochs"),
          countDistinct("epochs").as("n_eps")))
      val uncappedBudget =
        when(col("epochs") < 4.0 - 1e-6, col("n") * col("epochs"))
      val one = perGroup.agg(
        sum(when(col("epochs") > 4.0 + 1e-9, 1L).otherwise(0L)).as("over_cap"),
        sum(when(col("n_eps") =!= 1, 1L).otherwise(0L)).as("inconsistent"),
        sum(col("n") * col("epochs")).as("alloc"),
        sum(col("n")).as("total"),
        (max(uncappedBudget) - min(uncappedBudget)).as("spread"),
        count(lit(1)).as("n_groups"))
      checkRows(one,
        "cap_respected" -> (col("over_cap") === 0L),
        "per_group_constant" -> (col("inconsistent") === 0L),
        "budget_conserved" -> (abs(col("alloc") - col("total") * 1.5) <=
          col("total") * 1.5 * 1e-3),
        "uncapped_uniform" -> (coalesce(col("spread"), lit(0.0)) <=
          greatest(col("alloc") * 1e-3, lit(1.0))),
        "groups_nonempty" -> (col("n_groups") >= 1L))
    }),

    // deterministic proportional interleave: training order in which any
    // contiguous slice holds each source in ≈ its corpus share
    "q_interleave" -> ((s, dir) =>
      Sampling.interleaveStrata(
          T(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", "source")
        .orderBy("interleave_pos")),

    // corpus vocabulary: top-100 tokens with counts (BPE seeding step)
    "q_vocab" -> ((s, dir) =>
      TextAnalysis.vocabulary(T(s, dir, "documents"), "text", 100)),

    // tokenizer-vocabulary coverage audit: per-source OOV rate under the
    // corpus top-50 vocabulary — rides the closure as a hash-set UDF
    // (O(1) per token; no join, no explode)
    "q_vocab_coverage" -> ((s, dir) => {
      import s.implicits._
      val docs = T(s, dir, "documents")
      val vocab = TextAnalysis.vocabulary(docs, "text", 50)
        .select("token").as[String].collect().toSeq
      TextAnalysis.vocabCoverage(docs, "text", "source", vocab)
        .orderBy("source")
    }),

    // length-sorted dataloader batches (batchSize 32) + the per-batch
    // padding audit: one global sort + census positions, exact oracle
    "q_length_batches" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select("doc_id", "text")
      val assigned = Sampling.lengthSortedBatches(docs, "doc_id",
        coalesce(TextAnalysis.tokenCount(col("text")), lit(0)),
        batchSize = 32)
      Sampling.batchPadStats(assigned).orderBy("batch_id")
    }),

    // NPMI collocation mining (word2phrase): top bigrams by normalized
    // pointwise mutual information — the phrase-vocabulary seeding step
    "q_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(T(s, dir, "documents"), "text",
        minCount = 2, topK = 50)),

    // vocabulary coverage curve: corpus token mass covered by the top-k
    // types at four vocab-size checkpoints (the tokenizer-sizing audit)
    "q_coverage_curve" -> ((s, dir) =>
      TextAnalysis.coverageCurve(T(s, dir, "documents"), "text",
        ks = Seq(10, 100, 1000, 10000))),

    // windowed co-occurrence counts (word2vec/GloVe context counting):
    // unordered pairs within ±3 positions, scan-side zipped slices
    "q_cooccurrence" -> ((s, dir) =>
      TextAnalysis.cooccurrence(T(s, dir, "documents"), "text",
        window = 3, minCount = 2, topK = 50)),

    // TextRank keywords: weighted PageRank over the symmetric word
    // co-occurrence graph; oracle = DuckDB rebuilds the identical graph
    // (the q_cooccurrence pair CTE, self-pairs dropped, counts as
    // weights) and power-iterates it with a recursive CTE (the q_ppr
    // pattern). Emitted as the FULL (word, score) roster ordered by word
    // — no top-k float boundary in the gate; the top-k leg is spec'd
    "q_textrank" -> ((s, dir) =>
      TextAnalysis.textRankKeywords(T(s, dir, "documents"), "text",
          window = 3, minCount = 2, topK = Int.MaxValue, iters = 10)
        .select(col("word"), round(col("score"), 6).as("score"))
        .orderBy("word")),

    // word2phrase APPLY (derived checks): mined collocations merge into
    // joined tokens; splitting the output tokens on the joiner must
    // restore the original token stream EXACTLY per doc, the token count
    // must shrink by the merge count, and at least one merge must land
    "q_phrases" -> ((s, dir) => {
      import s.implicits._
      val docs = T(s, dir, "documents")
      val phrases = TextAnalysis.collocations(docs, "text",
          minCount = 2, topK = 20)
        .select("w1", "w2").as[(String, String)].collect().toSeq
      val out = TextAnalysis.applyPhrases(docs, "text", phrases)
      val orig = TextAnalysis.nonEmptyTokens(col("text"))
      val phrased = TextAnalysis.nonEmptyTokens(col("phrased_text"))
      val restored = flatten(transform(phrased, t => split(t, "_")))
      val perDoc = out.select(
        (orig <=> restored).as("__restore"),
        coalesce(size(orig) - size(phrased), lit(0)).cast("long").as("__merges"))
      perDoc.agg(
        count(lit(1)).as("n_docs"),
        min(col("__restore")).as("restore_all"),
        (sum(col("__merges")) > 0).as("merged_any"))
    }),

    // word2phrase END-TO-END (derived checks): minePhrases chains mining
    // into apply over `passes` rounds in one call — the result must (a)
    // split back to the original token stream on the joiner, (b) equal
    // the documented manual mine→apply→mine→apply composition applied
    // with the SAME per-pass vocabularies, (c) actually merge, and (d)
    // have mined a non-empty pass-1 vocabulary
    "q_phrases_e2e" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val (out, vocab) = TextAnalysis.minePhrasesCore(docs, "text",
        minCount = 2, topK = 20, passes = 2)
      val (manual, mcol) = vocab.zipWithIndex
        .foldLeft((docs, "text")) { case ((d, sc), (ph, i)) =>
          val tmp = s"__m$i"
          val applied = TextAnalysis.applyPhrases(d, sc, ph, tmp)
          (if (sc == "text") applied else applied.drop(sc), tmp)
        }
      val joined = out.select(col("doc_id"), col("text"), col("phrased_text"))
        .join(manual.select(col("doc_id"), col(mcol).as("__manual")), "doc_id")
      val orig = TextAnalysis.nonEmptyTokens(col("text"))
      val phrased = TextAnalysis.nonEmptyTokens(col("phrased_text"))
      val restored = flatten(transform(phrased, t => split(t, "_")))
      val one = joined.select(
          (orig <=> restored).as("__restore"),
          (col("phrased_text") <=> col("__manual")).as("__match"),
          coalesce(size(orig) - size(phrased), lit(0)).cast("long").as("__merges"))
        .agg(count(lit(1)).as("n_docs"), min("__restore").as("__r"),
          min("__match").as("__m"), sum("__merges").as("__s"))
      checkRows(one,
        "docs_nonempty" -> (col("n_docs") >= 1),
        "restore_all" -> col("__r"),
        "matches_manual_composition" -> col("__m"),
        "merged_any" -> (col("__s") > 0),
        "vocab_mined" -> lit(vocab.nonEmpty && vocab.head.nonEmpty))
    }),

    // EXACT truncated neighbourhood function N(r) on the 3-map graph —
    // reachable pairs per radius, the ANF the effective diameter reads
    "q_anf" -> ((s, dir) => {
      val (nodes, edges) = mapGraph(s, dir)
      Graph.neighborhoodFunctionExact(edges, "src", "dst", maxDepth = 4)
        .orderBy("r")
    }),

    // HyperBall ANF derived checks: every radius covered, estimates
    // monotone, each within the m = 128 error band of the exact N(r),
    // and the derived effective diameters within half a radius
    "q_anf_hyperball" -> ((s, dir) => {
      val (nodes, edges) = mapGraph(s, dir)
      val exact = pin(Graph.neighborhoodFunctionExact(edges, "src", "dst",
        maxDepth = 4).withColumnRenamed("pairs", "pe"))
      val hb = pin(Graph.neighborhoodFunctionHyperBall(edges, "src", "dst",
        maxDepth = 4, logM = 7))
      val edE = Graph.effectiveDiameter(exact.withColumnRenamed("pe", "pairs"))
      val edH = Graph.effectiveDiameter(hb)
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("r")
      val one = exact.join(hb, "r")
        .withColumn("__prev", lag(col("pairs"), 1).over(w))
        .agg(count(lit(1)).as("n_r"),
          max(abs(col("pairs") - col("pe")) / col("pe")).as("__rel"),
          min(col("__prev").isNull || col("pairs") >= col("__prev")).as("__mono"))
      checkRows(one,
        "covers_all_radii" -> (col("n_r") === 5),
        "rel_error_in_band" -> (col("__rel") < 0.15),
        "monotone" -> col("__mono"),
        "effective_diameter_close" -> lit(math.abs(edE - edH) < 0.5))
    }),

    // pairwise source-to-source Jensen-Shannon divergence of unigram
    // distributions (base 2) — the data-mixing redundancy diagnostic
    "q_corpus_divergence" -> ((s, dir) =>
      TextAnalysis.corpusDivergenceJS(T(s, dir, "documents"), "text", "source")
        .orderBy("corpus_a", "corpus_b")),

    // per-source top-5 most frequent tokens (source vocabulary profile)
    "q_top_terms" -> ((s, dir) =>
      TextAnalysis.topTermsPerGroup(T(s, dir, "documents"), "text", "source",
        k = 5)
        .orderBy(col("source"), col("rank"))),

    // BPE subword training + application (Sennrich 2016 / GPT-2 greedy
    // ranks): derived check — the exact merge sequence is spec-tested
    // against the published worked example; here the learned tokenizer
    // must (a) round-trip every document (concatenated subwords restore
    // the lowercased words + end markers), (b) compress monotonically as
    // merges are added, (c) token count bounded below by word count
    "q_bpe" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val merges = Bpe.learnBpe(docs, "text", numMerges = 200, maxWords = 20000)
      val t200 = Bpe.applyBpe(docs, "text", merges)
      val t50 = Bpe.applyBpe(docs, "text", merges.take(50))
      val words = TextAnalysis.nonEmptyTokens(col("text"))
      val roundtrip = t200.select(
        (array_join(col("bpe_tokens"), "") === concat_ws("",
          transform(words, w => concat(w, lit(Bpe.EndOfWord))))).as("ok"))
        .agg(min("ok").as("rt"))
      val n200 = t200.agg(sum("n_bpe_tokens").as("n"),
        sum(size(words)).as("nw"))
      val n50 = t50.agg(sum("n_bpe_tokens").as("n"))
      val one = roundtrip
        .crossJoin(n200.select(col("n").as("n200"), col("nw")))
        .crossJoin(n50.select(col("n").as("n50")))
      checkRows(one,
        "roundtrip_lossless" -> col("rt"),
        "monotone_merges" -> (col("n200") <= col("n50")),
        "tokens_at_least_words" -> (col("n200") >= col("nw")))
    }),

    // WordPiece training + application (Schuster 2012; the BERT
    // tokenizer: likelihood-ratio merges, ## continuations, greedy
    // longest-match inference). EXACT oracle: stripping the ## markers
    // and concatenating the pieces must restore each document's
    // lowercased word stream, which DuckDB recomputes straight from the
    // data — and the [UNK] count must be exactly 0 (the learned alphabet
    // covers the corpus), so the segmenter's fallback can't hide misses.
    "q_wordpiece" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val vocab = WordPiece.learnWordPiece(docs, "text", vocabSize = 400,
        maxWords = 20000)
      WordPiece.applyWordPiece(docs, "text", vocab)
        // strip ONE leading marker per piece (the exact inverse of the
        // ## convention) — a global replace would also delete literal
        // "##" content inside '#'-bearing corpora
        .select(col("doc_id"),
          array_join(transform(col("wp_tokens"),
            t => regexp_replace(t, "^##", "")), "").as("reconstructed"),
          size(filter(col("wp_tokens"), t => t === WordPiece.Unk))
            .cast("long").as("n_unk"))
        .orderBy("doc_id")
    }),

    // BPE int-id encoding (the dataloader-ready form): merges learned,
    // persisted as a frame, rehydrated, then applied as vocabulary ids
    // with the corpus's own alphabet declared — derived checks: the
    // persisted artifact round-trips exactly, the token-count column
    // matches the id sequences, every id addresses the vocabulary with
    // no <unk> fallback, and the ids DECODE back to the lowercased
    // marker-terminated words
    // BYTE-LEVEL BPE (GPT-2 byte↔unicode bijection, marker-free merges):
    // derived checks — the id stream decodes back to the EXACT document
    // bytes (whitespace included), never hits <unk> on ANY input, and
    // the merges strictly compress vs raw UTF-8 bytes
    "q_bpe_bytes" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val merges = Bpe.learnBpeByteLevel(docs, "text", numMerges = 150,
        maxWords = 20000)
      val vocab = Bpe.vocabFromMerges(merges,
        extraAlphabet = Bpe.ByteAlphabet)
      val dec = udf((ids: Seq[Int]) => Bpe.decodeByteLevelIds(ids, vocab))
      val enc = pin(Bpe.applyBpeIdsByteLevel(docs, "text", merges, vocab)
        .select(col("doc_id"), col("text"), col("bpe_ids"),
          col("n_bpe_tokens")))
      val one = enc.agg(
        min(dec(col("bpe_ids")) <=> coalesce(col("text"), lit("")))
          .as("decodes"),
        min(!array_contains(col("bpe_ids"), 0)).as("no_unk"),
        sum(col("n_bpe_tokens")).as("n_ids"),
        sum(length(encode(coalesce(col("text"), lit("")), "UTF-8"))
          .cast("long")).as("n_bytes"),
        count(lit(1)).as("n_docs"))
      checkRows(one,
        "decodes_byte_exact" -> col("decodes"),
        "never_unk" -> col("no_unk"),
        "compresses_vs_bytes" -> (col("n_ids") < col("n_bytes")),
        "corpus_nonempty" -> (col("n_docs") >= 1L))
    }),

    "q_bpe_ids" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val merges = Bpe.learnBpe(docs, "text", numMerges = 200, maxWords = 20000)
      val back = Bpe.mergesFromDf(Bpe.mergesDf(s, merges))
      // bounded corpus-alphabet agg (distinct characters of the words)
      val alphabet = docs.select(explode(split(array_join(
          TextAnalysis.nonEmptyTokens(col("text")), ""), "")).as("ch"))
        .filter(col("ch") =!= "").distinct()
        .collect().map(_.getString(0)).toSeq
      val vocab = Bpe.vocabFromMerges(back, extraAlphabet = alphabet)
      val vocabLit = typedlit(vocab)
      val words = TextAnalysis.nonEmptyTokens(col("text"))
      val enc = Bpe.applyBpeIds(docs, "text", back, vocab)
      val one = enc.agg(
        min(col("n_bpe_tokens") === size(col("bpe_ids"))).as("counts"),
        min(forall(col("bpe_ids"),
          i => i >= 0 && i < lit(vocab.size))).as("in_vocab"),
        min(!array_contains(col("bpe_ids"), 0)).as("no_unk"),
        min(array_join(transform(col("bpe_ids"),
            i => element_at(vocabLit, i + 1)), "") ===
          concat_ws("", transform(words,
            w => concat(w, lit(Bpe.EndOfWord))))).as("decodes"))
      checkRows(one,
        "artifact_roundtrip" -> lit(back == merges),
        "count_matches_ids" -> col("counts"),
        "decodes_to_words" -> col("decodes"),
        "ids_in_vocab" -> col("in_vocab"),
        "no_unk_with_full_alphabet" -> col("no_unk"))
    }),

    // Unigram-LM tokenizer (Kudo 2018 / SentencePiece `unigram`): a
    // vocab fit by forward-backward EM on the bounded word dict, applied
    // as scan-side Viterbi segmentation. Derived checks: pieces
    // concatenate back to the ▁-marked words (lossless), the fitted
    // vocab compresses at least as well as its character subset, piece
    // count is bounded by marked char count below and word count above,
    // the persisted artifact round-trips, and ids are in range
    "q_unigram" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val m = UnigramLm.learnUnigram(docs, "text", vocabSize = 800,
        maxWords = 20000)
      val back = UnigramLm.piecesFromDf(UnigramLm.piecesDf(s, m))
      val charOnly = {
        val chars = m.pieces.filter(_.length == 1)
        val lp = math.log(1.0 / chars.length)
        UnigramLm.UnigramModel(chars, Array.fill(chars.length)(lp))
      }
      val words = TextAnalysis.nonEmptyTokens(col("text"))
      val marked = transform(words,
        w => concat(lit(UnigramLm.WordStart), w))
      val full = UnigramLm.applyUnigram(docs, "text", m)
      val ids = UnigramLm.applyUnigramIds(docs, "text", m)
      val rt = full.select(
        (array_join(col("uni_pieces"), "") === concat_ws("", marked)).as("ok"),
        col("n_uni_pieces").as("np"),
        length(concat_ws("", marked)).cast("long").as("nc"),
        size(words).cast("long").as("nw"))
        .agg(min("ok").as("rt"), sum("np").as("np"), sum("nc").as("nc"),
          sum("nw").as("nw"))
      val nChar = UnigramLm.applyUnigram(docs, "text", charOnly)
        .agg(sum("n_uni_pieces").as("nco"))
      val idsOk = ids.agg(
        min(col("n_uni_pieces") === size(col("uni_ids"))).as("cnt"),
        min(forall(col("uni_ids"),
          i => i >= 0 && i <= lit(m.size))).as("rng"))
      val one = rt.crossJoin(nChar).crossJoin(idsOk)
      checkRows(one,
        "roundtrip_lossless" -> col("rt"),
        "compresses_vs_chars" -> (col("np") <= col("nco")),
        "pieces_at_most_chars" -> (col("np") <= col("nc")),
        "pieces_at_least_words" -> (col("np") >= col("nw")),
        "artifact_roundtrip" ->
          lit(back.pieces.toSeq == m.pieces.toSeq &&
              back.logProbs.toSeq == m.logProbs.toSeq),
        "vocab_within_target" -> lit(m.size <= 800),
        "ids_count_and_range" -> (col("cnt") && col("rng")))
    }),

    // TF-IDF top-3 keywords per document
    "q_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidf(T(s, dir, "documents"), "text", "doc_id", 3)
        .withColumnRenamed("rank", "rnk")
        .orderBy("doc_id", "rnk")),

    // BM25 retrieval: top-50 docs for a 4-term query (score rounded
    // before ranking so the order is engine-stable)
    "q_bm25" -> ((s, dir) =>
      TextAnalysis.bm25Rank(T(s, dir, "documents"), "text", "doc_id",
          Seq("spark", "merge", "window", "hash"), topK = 50)
        .orderBy(col("score").desc, col("doc_id"))),

    // persisted inverted index: tokenize+aggregate once, search reads only
    // the query terms' bucket partitions — scores identical to q_bm25
    "q_bm25_index" -> ((s, dir) => {
      TextAnalysis.buildTextIndex(T(s, dir, "documents"), "text", "doc_id",
        tmp("q_bm25_index"), nBuckets = 16)
      TextAnalysis.bm25SearchIndex(s, tmp("q_bm25_index"),
          Seq("spark", "merge", "window", "hash"), topK = 50)
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // hybrid retrieval: BM25 top-20 and dense cosine top-20 (doc_id ≡
    // vec_id) fused by reciprocal rank — no score calibration, ranks only
    "q_hybrid_rrf" -> ((s, dir) => {
      // rank the bounded top-20 BM25 list without a global window
      val sparse = TextAnalysis.boundedRank(
        TextAnalysis.bm25Rank(T(s, dir, "documents"), "text",
          "doc_id", Seq("spark", "merge", "window", "hash"), topK = 20),
        "doc_id", "score")
      val emb = T(s, dir, "embeddings")
      val dense = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") === 3), emb,
          "vec_id", "embedding", "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      TextAnalysis.rrfFuse(Seq(sparse, dense), "doc_id", kRrf = 60,
          topK = 10)
        .orderBy(col("rrf_score").desc, col("doc_id"))
    }),

    // ranked-retrieval evaluation (MRR / P@k / R@k / nDCG@k) on a
    // deterministic labeled ranking: 5 queries × 10 ranked items built
    // by id arithmetic, graded relevance 0..3 — every metric replays
    // exactly in SQL (the DCG sums pin at round 6, the ratio metrics
    // at 9)
    "q_retrieval_metrics" -> ((s, dir) => {
      val ranked = T(s, dir, "documents").filter(col("doc_id") < 50)
        .select((col("doc_id") % 5).cast("long").as("q"),
          (col("doc_id") / 5 + 1).cast("int").as("rank"),
          (col("doc_id") * 7 % 4).cast("double").as("rel"))
      TextAnalysis.retrievalMetrics(ranked, "q", "rank", "rel", k = 5)
        .withColumnRenamed("query", "q")
        .orderBy("q")
    }),

    // classification report (per-class P/R/F1 + micro accuracy) on a
    // deterministic confusion: labels and predictions by id arithmetic
    // over 4 classes — exact integer counts, ratio replay in SQL
    "q_clf_report" -> ((s, dir) => {
      val scored = T(s, dir, "documents")
        .select((col("doc_id") * 3 % 4).cast("string").as("label"),
          (col("doc_id") * 5 % 4).cast("string").as("pred"))
      graft.ops.Classifier.classificationReport(scored, "label", "pred")
        .orderBy("cls")
    }),

    // overlapping token-window chunking (context-length training prep):
    // 32-token windows every 24 tokens
    "q_chunk" -> ((s, dir) =>
      TextAnalysis.chunkTokens(T(s, dir, "documents"), "text", "doc_id",
          window = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx")),

    // per-doc unigram cross-entropy vs the corpus LM (CCNet-style signal)
    "q_surprisal" -> ((s, dir) =>
      TextAnalysis.unigramSurprisal(T(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    // Aho–Corasick blocklist census: one automaton pass per document
    // counts every occurrence of every pattern (overlaps and nesting
    // included — "able" hits inside every "table"); oracle brute-forces
    // the same overlapping counts by checking every start position
    "q_blocklist" -> ((s, dir) =>
      Blocklist.blocklistMatches(T(s, dir, "documents"), "text", "doc_id",
          Seq("table", "able", "scan", "a row", "part"))
        .orderBy("doc_id")),

    // n-gram novelty: fraction of each doc's distinct 3-grams appearing
    // in NO other document — the inverse boilerplate signal; exact
    // docfreq replay in DuckDB
    "q_ngram_novelty" -> ((s, dir) =>
      TextAnalysis.ngramNovelty(T(s, dir, "documents"), "text", "doc_id",
          n = 3)
        .orderBy("doc_id")),

    // fill-in-the-middle transform (PSM sentinel order) with
    // id-arithmetic split fractions the oracle replays verbatim; the
    // round-trip property (prefix+middle+suffix = original) is pinned
    // in SftSpec, the exact re-serialization here
    "q_fim" -> ((s, dir) =>
      Sft.fimTransform(T(s, dir, "documents"), "text", "doc_id",
          (col("doc_id").cast("long") * 13 % 97).cast("double") / 97.0,
          (col("doc_id").cast("long") * 29 % 89).cast("double") / 89.0)
        .orderBy("doc_id")),

    // ROUGE-L against a GAPPED-MISMATCH candidate: the EVEN-position
    // tokens, each followed by a junk twin ("tok@@" — '@@' appears
    // nowhere in the corpus, data-pinned; a violation would redden the
    // gate). The evens are an in-order but NON-CONTIGUOUS subsequence
    // (the DP must skip every odd ref token) and the junk twins match
    // nothing (the DP must route around a mismatch after every hit), so
    // the general max branches run on both axes while LCS stays
    // provable: any common subsequence uses only the k = floor(n/2)
    // non-junk candidate tokens, and the evens themselves embed — LCS
    // = k exactly, p = k/2k, r = k/n.
    "q_rouge" -> ((s, dir) => {
      val toks = TextAnalysis.nonEmptyTokens(col("text"))
      val evens = filter(toks, (_, i) => i % 2 === 1)
      val cand = array_join(
        flatten(transform(evens, e => array(e, concat(e, lit("@@"))))), " ")
      T(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.rougeL(col("text"), cand).as("rg"))
        .select(col("doc_id"), round(col("rg._1"), 9).as("rouge_p"),
          round(col("rg._2"), 9).as("rouge_r"),
          round(col("rg._3"), 9).as("rouge_f"))
        .orderBy("doc_id")
    }),

    // distinct-2 diversity per source (Li 2016): the mode-collapse
    // diagnostic for generated corpora; exact occurrence/distinct
    // accounting replayed in DuckDB
    "q_distinct_n" -> ((s, dir) =>
      TextAnalysis.distinctN(T(s, dir, "documents"), "text", "source",
          n = 2)
        .withColumnRenamed("grp", "source")
        .orderBy("source")),

    // Zipf slope of the token frequency curve (OLS of ln count on ln
    // rank, deterministic tie order) — the one-number corpus-health
    // diagnostic; oracle recomputes the same regression in SQL
    "q_zipf" -> ((s, dir) =>
      TextAnalysis.zipfSlope(T(s, dir, "documents"), "text")),

    // Min-K% Prob membership/contamination score (Shi 2023, k=20%):
    // mean surprisal of each doc's lowest-probability tokens under the
    // corpus unigram LM; rank ties at the cut are EQUAL nll values, so
    // the mean — and the oracle hash — are tie-invariant
    "q_mink_prob" -> ((s, dir) =>
      TextAnalysis.minKProb(T(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    // SEMANTIC decontamination: corpus docs whose embedding is within
    // cosine 0.4 of any benchmark (% 23 slice) embedding — the fuzzy
    // complement of q_decontaminate's exact n-gram overlap (paraphrased
    // eval material shares no n-grams but stays close in embedding
    // space); bench broadcasts, corpus scans once. Exact vs DuckDB
    // recomputing every corpus×bench cosine
    "q_decontaminate_semantic" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Dedup.decontaminateSemantic(emb, emb.filter(col("vec_id") % 23 === 0),
          "vec_id", "embedding", "embedding", threshold = 0.4)
        .orderBy("vec_id")
    }),

    // CCNet cross-document line dedup, KEEP-FIRST (vs q_dedup_rewrite's
    // drop-all-copies segments). Lines are built deterministically
    // (3-word windows — short enough that this vocabulary yields real
    // cross-doc duplicates); exact against DuckDB replaying the same
    // build, the same packed (doc,pos) first-occurrence keys, and the
    // same keep-first reassembly
    // Gopher's duplicate line/paragraph block (Rae 2021 Table A1), the
    // within-doc complement of q_text_repetition's n-gram half: the
    // corpus reshaped into 3-word lines / 2-line paragraphs, then the
    // four duplicate-segment fractions — exact vs DuckDB rebuilding the
    // same layout and computing the same list algebra
    "q_gopher_dup" -> ((s, dir) =>
      TextAnalysis.dupSegmentMetrics(
          syntheticParagraphs(T(s, dir, "documents"), wordsPerLine = 3,
            linesPerPara = 2))
        .select(col("doc_id"),
          round(col("dup_line_frac"), 6).as("dup_line_frac"),
          round(col("dup_line_char_frac"), 6).as("dup_line_char_frac"),
          round(col("dup_para_frac"), 6).as("dup_para_frac"),
          round(col("dup_para_char_frac"), 6).as("dup_para_char_frac"))
        .orderBy("doc_id")),

    // TokenBin round-trip: encode each doc as the structural id sequence
    // 1..n_tokens (SQL-reproducible; real BPE ids ride the same path in
    // TokenBinSpec), write 4 indexed binary shards, read them back via
    // the DSv2 source, and emit per-doc shard + md5 of the id list — the
    // oracle recomputes everything from the documents table, so a match
    // proves the binary write→read is byte-lossless and placement follows
    // the pmod rule
    "q_tokenbin" -> ((s, dir) => {
      val nt = TextAnalysis.tokenCount(col("text"))
      val enc = T(s, dir, "documents").select(col("doc_id"),
        when(nt < 1, array().cast("array<int>"))
          .otherwise(sequence(lit(1), nt)).as("ids"))
      val out = tmp("tokenbin")
      graft.sources.TokenBin.write(enc, "doc_id", "ids", out, shards = 4)
      s.read.format("tokenbin").load(out)
        .select(col("key").as("doc_id"), col("shard"),
          size(col("ids")).as("n_tokens"),
          md5(array_join(transform(col("ids"), _.cast("string")), ","))
            .as("ids_md5"))
        .orderBy("doc_id")
    }),

    // TokenBin integrity sweep: write the structural-id corpus as uint16
    // shards (ids ≤ 100 fit; half the bytes of int32), then re-hash every
    // shard distributed and compare with the manifest md5s recorded on
    // the write stream — any corruption or dtype round-trip defect would
    // flip ok to false and hash-mismatch the oracle's all-true roster
    "q_tokenbin_verify" -> ((s, dir) => {
      val nt = TextAnalysis.tokenCount(col("text"))
      val enc = T(s, dir, "documents").select(col("doc_id"),
        when(nt < 1, array().cast("array<int>"))
          .otherwise(sequence(lit(1), nt)).as("ids"))
      val out = tmp("tokenbin16")
      graft.sources.TokenBin.write(enc, "doc_id", "ids", out, shards = 4,
        dtype = "uint16")
      graft.sources.TokenBin.verifyShards(s, out)
        .select(col("shard"), col("ok")).orderBy("shard")
    }),

    // WebDataset tar-shard round-trip: write every document as a
    // two-member sample (<id>.txt + <id>.json), read the ustar archives
    // back through the binaryFile-based reader, and emit per-doc member
    // count + md5 of the .txt BYTES + the doc_id parsed back out of the
    // .json member — the oracle recomputes md5(text) from the documents
    // table, so a match proves the tar write→read is byte-lossless
    "q_webdataset" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"),
        to_json(struct(col("doc_id"), col("source"))).as("meta"))
      val out = tmp("webdataset")
      graft.sources.WebDataset.write(docs, "doc_id",
        Seq(("text", "txt"), ("meta", "json")), out, shards = 4)
      graft.sources.WebDataset.read(s, out)
        .groupBy(col("key").cast("long").as("doc_id"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("ext") === "txt", md5(col("content"))))
            .as("txt_md5"),
          max(when(col("ext") === "json",
            get_json_object(col("content").cast("string"), "$.doc_id")))
            .as("json_doc_id"))
        .orderBy("doc_id")
    }),

    // WebDataset integrity + rank planning off the r15 manifest commit
    // marker: re-hash every archive against the write-stream md5s, and
    // LPT-assign the shards to 3 dataloader ranks — emitted per shard as
    // (shard, ok, covered); the oracle's all-true roster hash-mismatches
    // if any archive is corrupt or any shard is dropped/duplicated by
    // the assignment
    "q_webdataset_verify" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val out = tmp("webdataset_verify")
      graft.sources.WebDataset.write(docs, "doc_id",
        Seq(("text", "txt")), out, shards = 4)
      val ver = graft.sources.WebDataset.verifyShards(s, out)
        .select(col("shard"), col("ok"))
      val asg = graft.sources.WebDataset.assignShards(s, out, workers = 3)
        .groupBy("shard").agg((count(lit(1)) === 1).as("covered"))
      ver.join(asg, Seq("shard"), "left")
        .select(col("shard"), col("ok"),
          coalesce(col("covered"), lit(false)).as("covered"))
        .orderBy("shard")
    }),

    "q_dedup_lines" -> ((s, dir) =>
      Dedup.dedupLinesKeepFirst(
          syntheticLines(T(s, dir, "documents"), wordsPerLine = 3),
          "text", "doc_id")
        .orderBy("doc_id")),

    // interpolated bigram-LM surprisal (the closer-to-CCNet KenLM-style
    // signal): p = .75·p_bi + .25·p_uni, first token unigram-only, top-500
    // bigram model so the backoff path is EXERCISED at this vocabulary
    // (≈1.6k distinct bigrams) — exact vs DuckDB rebuilding both models
    // and the interpolation bit-for-bit
    "q_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramSurprisal(T(s, dir, "documents"), "text", "doc_id",
          maxBigrams = 500)
        .orderBy("doc_id")),

    // CCNet perplexity bucketing (Wenzek 2020): head/middle/tail by the
    // surprisal terciles, thresholds rounded for engine stability —
    // exact-checked against DuckDB recomputing surprisal, quantile_cont
    // cut points, and the same CASE
    "q_ccnet" -> ((s, dir) =>
      TextAnalysis.perplexityBuckets(T(s, dir, "documents"), "text", "doc_id",
          exact = true) // oracle-pinned vs DuckDB quantile_cont
        .select(col("doc_id"), col("n_tokens"), col("nll"), col("ppl_bucket"))
        .orderBy("doc_id")),

    // Unicode NFC + control/whitespace normalization (the CCNet/C4
    // preprocess step, custom codegen Expression). The synthetic corpus
    // is pure ASCII — NFC-identity — so the query appends a
    // deterministic non-NFC suffix (decomposed é and Å, a control char,
    // doubled spaces) to prove composition actually happens; exact
    // against DuckDB's nfc_normalize + the same RE2-portable regexes.
    "q_normalize" -> ((s, dir) => {
      val raw = concat(col("text"), lit(" Café Å  fin. "))
      T(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.normalizeText(raw).as("norm_text"),
          length(raw).cast("long").as("n_raw"),
          length(TextAnalysis.normalizeText(raw)).cast("long").as("n_norm"))
        .orderBy("doc_id")
    }),

    // C4 line-level cleaning (Raffel 2020 §2.2). The synthetic corpus is
    // single-line, so the query first builds a deterministic line
    // structure — 6-word lines, terminal '.' on lines where
    // (doc_id + line_idx) % 3 != 0 — then cleans with minWords=4 and
    // 'slow' banned, exercising all three line rules; exact against
    // DuckDB rebuilding the same lines and applying the same rules.
    "q_c4_clean" -> ((s, dir) => {
      val arr = filter(split(trim(col("text")), "\\s+"), w => length(w) > 0)
      val nl = ceil(size(arr) / lit(6.0)).cast("int")
      val lines = transform(sequence(lit(0), greatest(nl, lit(1)) - 1), i =>
        concat(array_join(slice(arr, i * 6 + 1, lit(6)), " "),
          when((col("doc_id") + i) % 3 === 0, "").otherwise(".")))
      val built = T(s, dir, "documents")
        .select(col("doc_id"), array_join(lines, "\n").as("text"))
      TextAnalysis.cleanLines(built, "text", "doc_id",
          minWords = 4, banned = Seq("slow"))
        .orderBy("doc_id")
    }),

    // DSIR importance weights (Xie et al. 2023): every doc scored by the
    // hashed-unigram log-likelihood ratio of a target model (lang='en'
    // docs) vs the raw-corpus model — the published pretraining
    // data-selection recipe, exact-checked against DuckDB recomputing the
    // bucketed models and log ratios
    "q_dsir" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      TextAnalysis.dsirWeights(docs, docs.filter(col("lang") === "en"),
          "text", "doc_id", buckets = 256)
        .orderBy("doc_id")
    }),

    // count-min-sketch heavy hitters derived check: for the exact top-20
    // tokens, the sketch must never undercount and must overcount within
    // the eps*total contract (both deterministic for a fixed seed, so this
    // gate cannot flap)
    "q_heavy_hitters" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val exactTop = TextAnalysis.vocabulary(docs, "text", 20)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      val eps = 1e-3
      val cms = TextAnalysis.tokenSketch(docs, "text", eps = eps,
        confidence = 0.999, seed = 42)
      val slack = math.ceil(eps * cms.totalCount()).toLong
      val ests = exactTop.map { case (t, n) => (n, cms.estimateCount(t)) }
      val one = s.range(1).select(
        lit(ests.forall { case (n, e) => e >= n }).as("ge"),
        lit(ests.forall { case (n, e) => e <= n + slack }).as("le"),
        lit(exactTop.length == 20).as("cand"))
      checkRows(one,
        "no_undercount" -> col("ge"),
        "overcount_bounded" -> col("le"),
        "candidates_complete" -> col("cand"))
    }),

    // URL domain extraction + blocklist verdict over deterministically
    // synthesized URLs (documents carry no URL column)
    "q_url_filter" -> ((s, dir) => {
      val domains = array(lit("example.com"), lit("spam.example"),
        lit("ads.bad.net"), lit("docs.example.org"), lit("blog.sample.io"))
      val url = concat(lit("https://"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("www.")).otherwise(lit("")),
        element_at(domains, (pmod(col("doc_id"), lit(5)) + 1).cast("int")),
        lit("/p/"), col("doc_id").cast("string"))
      T(s, dir, "documents").select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), col("url"),
          TextAnalysis.urlHost(col("url")).as("host"),
          TextAnalysis.urlDomain(col("url")).as("domain"))
        // blocklist entries are REGISTRABLE domains (host ads.bad.net has
        // domain bad.net, which is what the list must carry)
        .withColumn("kept",
          !col("domain").isin("spam.example", "bad.net"))
        .orderBy("doc_id")
    }),

    // bloom-filter decontamination derived check: the sketch variant must
    // flag every exact-overlap doc (one-sided error) with a bounded
    // false-positive overhead, and the keep filter must be its complement
    "q_bloom_decontaminate" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 29 =!= 0)
      val bench = docs.filter(col("doc_id") % 29 === 0)
      val exact = pin(Dedup.decontaminate(corpus, bench, "text", "doc_id",
        n = 4).select("doc_id"))
      val bloom = pin(Dedup.contaminatedBloom(corpus, bench, "text", "doc_id",
          n = 4, fpp = 1e-6)
        .filter(col("contaminated")).select("doc_id"))
      val kept = pin(Dedup.decontaminateBloomKeep(corpus, bench, "text",
        "doc_id", n = 4, fpp = 1e-6).select("doc_id"))
      val one = exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(exact.join(bloom, Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("n_fn")))
        .crossJoin(bloom.agg(count(lit(1)).as("n_bloom")))
        .crossJoin(corpus.agg(count(lit(1)).as("n_corpus")))
        .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
      checkRows(one,
        "flagged_nonempty" -> (col("n_bloom") >= 1),
        "no_false_negatives" -> (col("n_fn") === 0),
        "fp_bounded" -> (col("n_bloom") - col("n_exact") <=
          greatest(lit(5L), (col("n_corpus") * 0.01).cast("long"))),
        "keep_is_complement" ->
          (col("n_kept") === col("n_corpus") - col("n_bloom")))
    }),

    // benchmark decontamination: docs sharing any word 4-gram with the
    // doc_id % 29 == 0 "eval suite" slice
    "q_decontaminate" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 29 =!= 0),
        docs.filter(col("doc_id") % 29 === 0),
        "text", "doc_id", n = 4)
        .orderBy("doc_id")
    }),

    // GPT-3-style span scrub: remove only the colliding 4-gram window ±2
    // tokens, splitting documents into pieces at each removal
    "q_decontaminate_scrub" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.decontaminateScrub(
        docs.filter(col("doc_id") % 29 =!= 0),
        docs.filter(col("doc_id") % 29 === 0),
        "text", "doc_id", n = 4, pad = 2)
        .orderBy("doc_id")
    }),

    // greedy sequence packing into 128-token training windows per source
    "q_pack_sequences" -> ((s, dir) =>
      Sampling.packSequences(T(s, dir, "documents"), "source", "doc_id",
        TextAnalysis.tokenCount(col("text")), maxTokens = 128)
        .orderBy("source", "doc_id")),

    // offline first-fit-decreasing packing (derived checks — the bin
    // state is not SQL-expressible): every document assigned exactly
    // once, no multi-document pack over the budget, and the offline
    // quality tier must never waste more pad tokens than the greedy
    // streaming baseline it upgrades (deterministic on the pinned
    // corpus; FFD's advantage is measured in SCALE.md)
    "q_pack_ffd" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val tc = TextAnalysis.tokenCount(col("text"))
      val ffd = pin(Sampling.packSequencesFFD(docs, "source", "doc_id",
        tc, maxTokens = 128))
      val greedy = pin(Sampling.packSequences(docs, "source", "doc_id",
        tc, maxTokens = 128))
      val packTotals = ffd.groupBy("source", "pack_id")
        .agg(sum("n_tokens").as("__pt"), count(lit(1)).as("__pn"))
      val one = ffd.agg(count(lit(1)).as("n_rows"))
        .crossJoin(docs.agg(count(lit(1)).as("n_docs")))
        .crossJoin(ffd.select("source", "doc_id").distinct()
          .agg(count(lit(1)).as("n_distinct")))
        .crossJoin(packTotals.filter(col("__pt") > 128 && col("__pn") > 1)
          .agg(count(lit(1)).as("n_over")))
        .crossJoin(Sampling.packWasteStats(ffd, "source", 128)
          .agg(sum("pad_waste").as("w_ffd"), sum("n_packs").as("p_ffd")))
        .crossJoin(Sampling.packWasteStats(greedy, "source", 128)
          .agg(sum("pad_waste").as("w_greedy")))
      checkRows(one,
        "assigned_exactly_once" -> (col("n_rows") === col("n_docs") &&
          col("n_distinct") === col("n_docs")),
        "budget_respected" -> (col("n_over") === 0),
        "no_worse_than_greedy" -> (col("w_ffd") <= col("w_greedy")),
        "packs_nonempty" -> (col("p_ffd") >= 1))
    }),

    // physical pack assembly: the ids here are the structural sequence
    // 1..n_tokens (SQL-reproducible; real BPE ids ride the same path in
    // CorpusAssemblySpec) with sepId 0 terminating every document —
    // the oracle rebuilds the packs AND the concatenated id payloads.
    // The id/doc arrays are emitted as CSV strings (scalar columns only:
    // the driver's pandas comparator cannot sort ndarray-valued cells)
    "q_pack_assemble" -> ((s, dir) => {
      val nt = TextAnalysis.tokenCount(col("text"))
      val enc = T(s, dir, "documents").select(col("source"), col("doc_id"),
        when(nt < 1, array().cast("array<int>"))
          .otherwise(sequence(lit(1), nt)).as("ids"))
      Sampling.assemblePackedIds(enc, "source", "doc_id", "ids",
          size(col("ids")), maxTokens = 128, sepId = 0)
        .select(col("source"), col("pack_id"),
          concat_ws(",", col("packed_ids").cast("array<string>")).as("packed_csv"),
          concat_ws(",", col("doc_ids").cast("array<string>")).as("doc_csv"),
          col("n_docs"), col("n_ids"))
        .orderBy("source", "pack_id")
    }),

    // FFD physical assembly (derived checks — FFD bin state is not
    // SQL-expressible): the assembly's exploded (source, pack, doc)
    // roster must EQUAL packSequencesFFD's assignment (the shared-rule
    // guarantee), every document appears exactly once, id accounting
    // holds (n_ids = tokens + separators), and no pack exceeds
    // budget + separators
    "q_pack_ffd_assemble" -> ((s, dir) => {
      val nt = TextAnalysis.tokenCount(col("text"))
      val enc = T(s, dir, "documents").select(col("source"), col("doc_id"),
        when(nt < 1, array().cast("array<int>"))
          .otherwise(sequence(lit(1), nt)).as("ids"))
      val asm = pin(Sampling.assemblePackedIdsFFD(enc, "source", "doc_id",
        "ids", size(col("ids")), maxTokens = 128, sepId = 0))
      val assign = pin(Sampling.packSequencesFFD(enc, "source", "doc_id",
        size(col("ids")), maxTokens = 128))
      val a = asm.select(col("source"), col("pack_id").cast("long").as("pid"),
        explode(col("doc_ids")).as("doc_id"))
      val b = assign.select(col("source"), col("pack_id").cast("long").as("pid"),
        col("doc_id"))
      val one = a.exceptAll(b).agg(count(lit(1)).as("n_ab"))
        .crossJoin(b.exceptAll(a).agg(count(lit(1)).as("n_ba")))
        .crossJoin(asm.agg(sum("n_docs").as("n_docs_total"),
          count(lit(1)).as("n_packs")))
        .crossJoin(T(s, dir, "documents").agg(count(lit(1)).as("n_corpus")))
        .crossJoin(asm.filter(col("n_ids") =!= size(col("packed_ids")) ||
            (col("n_ids") > lit(128) + col("n_docs") && col("n_docs") > 1))
          .agg(count(lit(1)).as("n_bad")))
      checkRows(one,
        "matches_assignment" -> (col("n_ab") === 0 && col("n_ba") === 0),
        "every_doc_once" -> (col("n_docs_total") === col("n_corpus")),
        "id_accounting_holds" -> (col("n_bad") === 0),
        "packs_nonempty" -> (col("n_packs") >= 1))
    }),

    // SFT chat assembly: documents synthesized into 40 conversations
    // (conv = doc_id % 40, turns ordered by doc_id, roles alternating by
    // turn index), rendered through the fixed template with assistant
    // loss-mask spans; oracle = DuckDB window-offset + ordered string_agg
    // replay, exact (offsets are code points in both engines)
    "q_sft_chat" -> ((s, dir) => {
      val turns = T(s, dir, "documents").select(
        (col("doc_id").cast("long") % 40).as("conv"),
        col("doc_id").cast("long").as("ord"),
        when(expr("CAST(doc_id AS BIGINT) div 40") % 2 === 0, "user")
          .otherwise("assistant").as("role"),
        col("text"))
      Sft.renderChat(turns, "conv", "ord", "role", "text")
        .orderBy("conv")
    }),

    // DPO preference-pair assembly over synthetic scored responses
    // (prompt = doc_id % 50 → 10 candidates each; score = doc_id·37 mod
    // 97, pure id arithmetic so the oracle replays it exactly):
    // best-vs-worst per prompt with a gap floor
    "q_dpo_pairs" -> ((s, dir) =>
      Sft.preferencePairs(dpoResponses(s, dir), "prompt", "rid", "text",
          "score", minGap = 5.0)
        .withColumn("score_gap", round(col("score_gap"), 6))
        .orderBy("prompt")),

    // the ranking-to-pairwise expansion: every strictly-better ordered
    // pair with gap >= 60 (the floor bounds the quadratic-per-prompt
    // output; ties never pair)
    "q_dpo_all" -> ((s, dir) =>
      Sft.preferencePairs(dpoResponses(s, dir), "prompt", "rid", "text",
          "score", minGap = 60.0, allPairs = true)
        .withColumn("score_gap", round(col("score_gap"), 6))
        .orderBy("prompt", "chosen_id", "rejected_id")),

    // Bradley–Terry arena ranking over the synthetic battle log: 10 MM
    // rounds with per-round round(9) pinning, replayed exactly by an
    // unrolled chained-CTE oracle (final strengths compared at 6dp)
    "q_bradley_terry" -> ((s, dir) =>
      Sft.bradleyTerry(arenaBattles(s, dir), "winner", "loser", iters = 10)
        .withColumn("strength", round(col("strength"), 6))
        .orderBy("model")),

    // Elo rating trail over an every-8th-doc battle subset (63 battles
    // at sf0.01), sequential by doc_id; the oracle unrolls one CTE per
    // battle with identity padding past the data's end
    "q_elo" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
        .filter(col("id") % 8 === 0)
        .select(col("id"),
          (col("id") % 12).as("a"), ((col("id") * 7 + 3) % 12).as("b"),
          (((col("id") * 37) % 97) % 2 === 0).as("aw"))
        .filter(col("a") =!= col("b"))
      val battles = d.select(col("id").as("ord"),
        when(col("aw"), col("a")).otherwise(col("b"))
          .cast("string").as("winner"),
        when(col("aw"), col("b")).otherwise(col("a"))
          .cast("string").as("loser"))
      Sft.eloRatings(battles, "winner", "loser", "ord")
        .withColumn("rating", round(col("rating"), 6))
        .orderBy("model")
    }),

    // Cohen's kappa between two synthetic raters (deterministic mod-4
    // labelings); every ratio reduces to one division of exact integer
    // sums, so the oracle matches bit-for-bit
    "q_agree_cohen" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      ops.Classifier.cohenKappa(d.select(
        ((col("id") * 3) % 4).cast("string").as("ra"),
        ((col("id") * 5 + 1) % 4).cast("string").as("rb")), "ra", "rb")
    }),

    // Gwet's AC1 on a deliberately SKEWED two-rater panel — most items
    // labeled "0" by both raters (the prevalence regime where Cohen's
    // kappa collapses), disagreement confined to the sparse id%5 / id%7
    // slices; the oracle replays the union marginal and the
    // pi(1-pi)/(K-1) chance term exactly
    "q_agree_ac1" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      ops.Classifier.gwetAC1(d.select(
        when(col("id") % 7 === 0, ((col("id") * 3) % 4).cast("string"))
          .otherwise("0").as("ra"),
        when(col("id") % 5 === 0, ((col("id") * 5 + 1) % 4).cast("string"))
          .otherwise("0").as("rb")), "ra", "rb")
    }),

    // Fleiss' kappa: 100 items × equal rater panels (doc_id div 100),
    // 3-way labels from id arithmetic
    "q_agree_fleiss" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      ops.Classifier.fleissKappa(d.select(
        (col("id") % 100).as("item"),
        ((col("id") * 7) % 3).cast("string").as("rating")),
        "item", "rating")
    }),

    // calibration bins + ECE for a synthetic [0,1] score against a
    // parity label; bin = -1 is the summary/ECE row
    "q_calibration" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      ops.Classifier.calibrationReport(d.select(
          (((col("id") * 13) % 101).cast("double") / 100.0).as("score"),
          (((col("id") * 37) % 97) % 2).cast("double").as("label")),
        "score", "label", bins = 10)
        .orderBy("bin")
    }),

    // Krippendorff's alpha on a deliberately UNBALANCED panel (every
    // (id·11 % 7 = 0) rating dropped) — the missing-data case Fleiss
    // refuses; sub-2-rating items are excluded per the definition
    "q_agree_alpha" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
        .filter((col("id") * 11) % 7 =!= 0)
      ops.Classifier.krippendorffAlpha(d.select(
        (col("id") % 100).as("item"),
        ((col("id") * 7) % 3).cast("string").as("rating")),
        "item", "rating")
    }),

    // Chao1 + Good–Turing unseen-mass estimates from the corpus token
    // frequency spectrum; every ratio is a division of exact integers
    "q_vocab_richness" -> ((s, dir) =>
      TextAnalysis.vocabRichness(T(s, dir, "documents"), "text")),

    // tie-exact ROC AUC (Mann–Whitney) on the calibration frame; the
    // oracle replays the per-score prefix-sum formulation
    "q_auc" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      ops.Classifier.rocAuc(d.select(
          (((col("id") * 13) % 101).cast("double") / 100.0).as("score"),
          (((col("id") * 37) % 97) % 2).cast("double").as("label")),
        "score", "label")
    }),

    // the composed A/B decision report — ONE holdout, two models,
    // BOTH paired tests: McNemar on the 0.5-thresholded predictions
    // (the accuracy axis) and DeLong on the raw scores (the ranking
    // axis) in one verdict row. r18: re-gated through the PROMOTED
    // Classifier.abReport operator (one pinned frame, one combined
    // riding census) against the UNCHANGED r17 oracle — the oracle
    // that replayed the hand-composition now proves the operator is
    // bit-identical to it
    "q_ab_report" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      val frame = d.select(
          (((col("id") * 37) % 97) % 2).as("y"),
          (((col("id") * 13) % 101).cast("double") / 100.0).as("sa"),
          (((col("id") * 29) % 53).cast("double") / 64.0).as("sb"))
      ops.Classifier.abReport(frame, "y", "sa", "sb", threshold = 0.5)
    }),

    // per-slice binned AUC + ECE (the fairness cut on the ranking
    // axis; sliceAccuracy's threshold-free sibling): dyadic scores
    // make every per-bin sum exact; single-class slices map their
    // NULL auc to the -1.0 sentinel (the q_stream_eval convention)
    "q_slice_eval" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      ops.Classifier.sliceEval(d.select(col("lang"),
          (((col("doc_id") * 13) % 101).cast("double") / 128.0)
            .as("score"),
          (((col("doc_id") * 37) % 97) % 2).cast("double").as("label")),
        "score", "label", "lang", bins = 8)
        .select(col("slice"), col("n"),
          coalesce(col("auc"), lit(-1.0)).as("auc"), col("ece"))
        .orderBy("slice")
    }),

    // proper scoring rules: log-loss + Brier with the Murphy
    // decomposition over calibration bins; dyadic scores keep every
    // squared-error and bin-moment sum exact, the ln sums land under
    // round(9) (the q_surprisal cross-engine precedent)
    "q_proper_scores" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      ops.Classifier.properScores(d.select(
          (((col("id") * 13) % 101).cast("double") / 128.0).as("score"),
          (((col("id") * 37) % 97) % 2).cast("double").as("label")),
        "score", "label", bins = 10)
    }),

    // paired non-inferiority: the "safe to swap?" one-sided test at a
    // 2% margin — delta/SE from exact discordant counts, the one-sided
    // p via the shared erfcc chain (reflected for negative z)
    "q_noninferiority" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      val frame = d.select(
          (((col("id") * 37) % 97) % 2).as("y"),
          (((col("id") * 13) % 101) >= 50).cast("int").as("pa"),
          (((col("id") * 29) % 53) >= 27).cast("int").as("pb"))
      ops.Classifier.nonInferiorityTest(frame, "y", "pa", "pb",
        margin = 0.02)
    }),

    // off-policy evaluation from a synthetic logged-bandit frame:
    // powers-of-two logging propensities make every importance weight
    // (and its clip, products, squares) exactly dyadic, so all six
    // sums are exact on both engines
    "q_offpolicy" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      ops.Classifier.offPolicyEval(d.select(
          (((col("id") * 13) % 8).cast("double") / 8.0).as("reward"),
          (lit(1.0) / pow(lit(2.0),
            (((col("id") * 7) % 3) + 1).cast("double"))).as("pb"),
          ((((col("id") * 11) % 8) + 1).cast("double") / 16.0).as("pt")),
        "reward", "pb", "pt", clip = 2.0)
    }),

    // doubly-robust OPE on the same dyadic logged-bandit frame as
    // q_offpolicy, plus dyadic q-hat/v-hat model columns — every sum
    // (incl. the correction term) is exact on both engines
    "q_offpolicy_dr" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      ops.Classifier.doublyRobustEval(d.select(
          (((col("id") * 13) % 8).cast("double") / 8.0).as("reward"),
          (lit(1.0) / pow(lit(2.0),
            (((col("id") * 7) % 3) + 1).cast("double"))).as("pb"),
          ((((col("id") * 11) % 8) + 1).cast("double") / 16.0).as("pt"),
          (((col("id") * 5) % 8).cast("double") / 8.0).as("qh"),
          (((col("id") * 3) % 8).cast("double") / 8.0).as("vh")),
        "reward", "pb", "pt", "qh", "vh", clip = 2.0)
    }),

    // per-slice OPE on the q_offpolicy frame plus a 3-way slice: the
    // routing question is sliced ("wins overall, loses on code
    // traffic") and the per-slice ESS is where support collapses first
    "q_offpolicy_slice" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      ops.Classifier.offPolicyEvalBySlice(d.select(
          concat(lit("s"), (col("id") % 3).cast("string")).as("slice"),
          (((col("id") * 13) % 8).cast("double") / 8.0).as("reward"),
          (lit(1.0) / pow(lit(2.0),
            (((col("id") * 7) % 3) + 1).cast("double"))).as("pb"),
          ((((col("id") * 11) % 8) + 1).cast("double") / 16.0).as("pt")),
        "reward", "pb", "pt", "slice", clip = 2.0)
        .orderBy("slice")
    }),

    // router-log adapter: candidates + softmax vectors -> (pb, pt) via
    // array_position/element_at, then the unchanged offPolicyEval; all
    // probability profiles dyadic so every weight sum is exact
    "q_offpolicy_router" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      val a = (col("id") * 11) % 4
      val log = d.select(
        (((col("id") * 13) % 8).cast("double") / 8.0).as("reward"),
        concat(lit("m"), a.cast("string")).as("action"),
        array(lit("m0"), lit("m1"), lit("m2"), lit("m3"))
          .as("candidates"),
        when(col("id") % 2 === 0,
            array(lit(0.5), lit(0.25), lit(0.125), lit(0.125)))
          .otherwise(
            array(lit(0.125), lit(0.125), lit(0.25), lit(0.5)))
          .as("bprobs"),
        when(col("id") % 4 < 2,
            array(lit(0.25), lit(0.25), lit(0.25), lit(0.25)))
          .otherwise(
            array(lit(0.5), lit(0.125), lit(0.125), lit(0.25)))
          .as("tprobs"))
      ops.Classifier.offPolicyEval(
        ops.Classifier.routerPropensities(log, "action", "candidates",
          "bprobs", "tprobs"),
        "reward", "pb", "pt", clip = 2.0)
    }),

    // per-slice doubly-robust OPE: the q_offpolicy_dr frame sliced
    // 3 ways — per-slice DR next to per-slice IPS localizes
    // model-vs-support disagreement to the slice that has it
    "q_offpolicy_dr_slice" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      ops.Classifier.doublyRobustEvalBySlice(d.select(
          concat(lit("s"), (col("id") % 3).cast("string")).as("slice"),
          (((col("id") * 13) % 8).cast("double") / 8.0).as("reward"),
          (lit(1.0) / pow(lit(2.0),
            (((col("id") * 7) % 3) + 1).cast("double"))).as("pb"),
          ((((col("id") * 11) % 8) + 1).cast("double") / 16.0).as("pt"),
          (((col("id") * 5) % 8).cast("double") / 8.0).as("qh"),
          (((col("id") * 3) % 8).cast("double") / 8.0).as("vh")),
        "reward", "pb", "pt", "qh", "vh", "slice", clip = 2.0)
        .orderBy("slice")
    }),

    // CUPED variance-reduced A/B delta: a dyadic pre-experiment
    // covariate sharing the metric's base term — theta, the adjusted
    // delta, both SEs and the variance-reduction factor all replay
    // from twelve power sums; p via the shared erfcc chain
    "q_cuped" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      val base = ((col("id") * 13) % 16).cast("double") / 16.0
      ops.Classifier.cupedDelta(d.select(
          concat(lit("arm"), (col("id") % 2).cast("string")).as("arm"),
          (base + (col("id") % 2).cast("double") * 0.03125).as("y"),
          (base * 0.5 + ((col("id") * 29) % 8).cast("double") / 16.0)
            .as("x")),
        "arm", "arm0", "arm1", "y", "x")
    }),

    // UNIT-randomized CUPED: ~12 events per unit (id % 512), arm
    // constant per unit — the cluster-robust path pre-aggregates unit
    // totals and runs the identical chain over units; the oracle
    // replays the unit fold then the SAME CTE tail as q_cuped
    "q_cuped_unit" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      val unit = col("id") % 512
      val base = ((col("id") * 13) % 16).cast("double") / 16.0
      ops.Classifier.cupedDelta(d.select(
          unit.as("unit"),
          concat(lit("arm"), (unit % 2).cast("string")).as("arm"),
          (base + (unit % 2).cast("double") * 0.03125).as("y"),
          (base * 0.5 + ((col("id") * 29) % 8).cast("double") / 16.0)
            .as("x")),
        "arm", "arm0", "arm1", "y", "x", unitCol = Some("unit"))
    }),

    // per-slice CUPED: a slice-dependent lift engineers a REVERSAL
    // (g0/g1 positive, g2 negative) that the pooled q_cuped verdict
    // cannot see — theta re-fit per slice, sentinels on thin slices
    "q_cuped_slice" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      val base = ((col("id") * 13) % 16).cast("double") / 16.0
      val lift = when(col("id") % 3 === 0, lit(0.09375))
        .when(col("id") % 3 === 1, lit(0.03125))
        .otherwise(lit(-0.0625))
      ops.Classifier.cupedDeltaBySlice(d.select(
          concat(lit("g"), (col("id") % 3).cast("string")).as("slice"),
          concat(lit("arm"), (col("id") % 2).cast("string")).as("arm"),
          (base + (col("id") % 2).cast("double") * lift).as("y"),
          (base * 0.5 + ((col("id") * 29) % 8).cast("double") / 16.0)
            .as("x")),
        "arm", "arm0", "arm1", "y", "x", "slice")
        .orderBy("slice")
    }),

    // multivariate CUPED (Lin 2013): TWO dyadic covariates carrying
    // independent halves of the metric's base — the 2x2 pooled
    // normal-equations solve (no-pivot elimination, fixed order) and
    // the quadratic-form variance replay operand for operand
    "q_cuped_multi" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      val b1 = ((col("id") * 13) % 16).cast("double") / 16.0
      val b2 = ((col("id") * 7) % 16).cast("double") / 16.0
      ops.Classifier.cupedDeltaMulti(d.select(
          concat(lit("arm"), (col("id") % 2).cast("string")).as("arm"),
          (b1 * 0.5 + b2 * 0.5
            + (col("id") % 2).cast("double") * 0.03125).as("y"),
          (b1 * 0.5 + ((col("id") * 29) % 8).cast("double") / 16.0)
            .as("x1"),
          (b2 * 0.5 + ((col("id") * 23) % 8).cast("double") / 16.0)
            .as("x2")),
        "arm", "arm0", "arm1", "y", Seq("x1", "x2"))
    }),

    // the composed end-to-end experiment report: SRM + CUPED +
    // anytime-valid sequential snapshot (plug-in pooled variance) +
    // EB-shrunk per-slice rates in one operator over one corpus
    // pass — one DuckDB query replays the whole frame
    "q_ab_e2e" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      val base = ((col("id") * 13) % 16).cast("double") / 16.0
      ops.Classifier.abExperimentReport(d.select(
          concat(lit("arm"), (col("id") % 2).cast("string")).as("arm"),
          (base + (col("id") % 2).cast("double") * 0.03125).as("y"),
          (base * 0.5 + ((col("id") * 29) % 8).cast("double") / 16.0)
            .as("x"),
          (((col("id") * 37) % 97) % 2).cast("int").as("succ"),
          concat(lit("g"), ((col("id") % 4) * (col("id") % 3))
            .cast("string")).as("slice")),
        "arm", "arm0", "arm1", "y", "x", "succ", "slice",
        expectedWeights = (0.5, 0.5), tau2 = 0.0625)
        .orderBy("slice")
    }),

    // ratio-metric delta under unit randomization (Deng–Knoblich–Lu
    // delta method): dyadic numerator with an arm lift over an
    // integer exposure denominator — unit totals, their power sums,
    // and the whole variance chain are exact on both engines
    "q_ratio_delta" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      val unit = col("id") % 512
      ops.Classifier.ratioMetricDelta(d.select(
          unit.as("unit"),
          concat(lit("arm"), (unit % 2).cast("string")).as("arm"),
          (((col("id") * 13) % 8).cast("double") / 8.0
            + (unit % 2).cast("double") * 0.0625).as("clicks"),
          (lit(1) + (col("id") * 7) % 4).cast("double").as("imps")),
        "arm", "arm0", "arm1", "clicks", "imps", "unit")
    }),

    // empirical-Bayes shrinkage of per-slice rates: six slices of
    // deliberately unequal size ((id%4)*(id%3) is skewed toward 0);
    // the across-slice moment sums replay as slice-ordered prefix
    // sums on both engines (the cusum convention)
    "q_eb_rates" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      ops.Classifier.empiricalBayesRates(d.select(
          concat(lit("g"), ((col("id") % 4) * (col("id") % 3))
            .cast("string")).as("slice"),
          (((col("id") * 37) % 97) % 2).cast("int").as("succ")),
        "slice", "succ")
        .orderBy("slice")
    }),

    // LLM-judge bias audit on a TIE-BEARING log (r20): the judge
    // favors the first position (decisive threshold 9/16 vs 7/16)
    // and declares a tie on the next 2/16 band — ties half-credit
    // the rates, are excluded from the Bernoulli position test, and
    // surface as tie_rate; integer lengths keep every sum exact
    "q_judge_bias" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      val first = (col("id") % 2) === 0
      val m = (col("id") * 13) % 16
      val ta = when(first, lit(9)).otherwise(lit(7))
      ops.Classifier.judgeBiasReport(d.select(
          when(m < ta, "a").when(m < ta + 2, "tie")
            .otherwise("b").as("winner"),
          first.as("a_first"),
          ((col("id") * 5) % 64).cast("double").as("len_a"),
          ((col("id") * 11) % 64).cast("double").as("len_b")),
        "winner", "a_first", "len_a", "len_b",
        tieValue = Some("tie"))
    }),

    // per-slice sample-size planning: the two-proportion requirement
    // at a 5-point absolute MDE from each slice's observed base rate,
    // with the traffic multiple the experiment would cost
    "q_power_slice" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      ops.Classifier.sampleSizeBySlice(d.select(
          concat(lit("g"), ((col("id") % 4) * (col("id") % 3))
            .cast("string")).as("slice"),
          (((col("id") * 37) % 97) % 2).cast("int").as("succ")),
        "slice", "succ", mde = 0.05)
        .orderBy("slice")
    }),

    // sample-ratio-mismatch guard: a 4-arm design declared at
    // 1/2 : 1/4 : 1/8 : 1/8 whose actual assignment is biased by
    // construction (7/11/13 of 16 cut points) — the chi2 against the
    // declared shares must flag it; df = 3 exercises the general
    // closed-form chi2 tail (erfc base + Horner polynomial) end to end
    "q_srm" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      val m = ((col("id") * 37) % 97) % 16
      ops.Classifier.srmCheck(d.select(
          when(m < 7, "a").when(m < 11, "b").when(m < 13, "c")
            .otherwise("d").as("arm")),
        "arm",
        Seq("a" -> 0.5, "b" -> 0.25, "c" -> 0.125, "d" -> 0.125))
        .orderBy("arm")
    }),

    // multiclass proper scores: 3 classes with DYADIC probabilities
    // summing to 1 exactly (a/128, b/128, (128-a-b)/128) and an
    // id-arithmetic label — per-class one-vs-rest Murphy rows plus
    // the cls = -1 summary, every bin moment an exact dyadic sum
    "q_proper_scores_mc" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      val a = (col("id") * 13) % 64
      val b = (col("id") * 29) % 64
      ops.Classifier.properScoresMulticlass(d.select(
          array(a.cast("double") / 128.0, b.cast("double") / 128.0,
            (lit(128) - a - b).cast("double") / 128.0).as("probs"),
          (((col("id") * 37) % 97) % 3).cast("int").as("label")),
        "probs", "label", bins = 8)
        .orderBy("cls")
    }),

    // ratio-metric Krippendorff on the q_agree_alpha unbalanced-panel
    // shape: delta = ((v-w)/(v+w))^2 over value counts; the oracle
    // replays both pair sums (within-item and pooled) cell for cell
    "q_alpha_ratio" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
        .filter((col("id") * 11) % 7 =!= 0)
      ops.Classifier.krippendorffAlphaRatio(d.select(
          (col("id") % 100).as("item"),
          ((col("id") * 7) % 5 + 1).cast("double").as("rating")),
        "item", "rating")
    }),

    // Hanley–McNeil CI around the tie-exact AUC; the closed form
    // derives from the round(9)-pinned auc, so the oracle replay
    // starts from the identical double
    "q_auc_ci" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      ops.Classifier.rocAucCI(d.select(
          (((col("id") * 13) % 101).cast("double") / 100.0).as("score"),
          (((col("id") * 37) % 97) % 2).cast("double").as("label")),
        "score", "label")
    }),

    // DeLong paired AUC comparison of two deterministic models on the
    // SAME frame — placements as scaled integers, every moment an
    // exact integer sum the oracle re-sums in HUGEINT, the variance a
    // fixed double expression both engines replay
    "q_delong" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      ops.Classifier.deLongTest(d.select(
          (((col("id") * 37) % 97) % 2).cast("double").as("label"),
          (((col("id") * 13) % 101).cast("double") / 100.0).as("sa"),
          (((col("id") * 29) % 53).cast("double") / 64.0).as("sb")),
        "label", "sa", "sb")
    }),

    // isotonic (PAV) calibration, gated by the optimality CERTIFICATE
    // rather than an algorithm replay: pool counts/means recomputed
    // from the raw per-score frame, monotonicity, disjoint coverage,
    // and the greatest-convex-minorant prefix property (every proper
    // within-pool prefix mean >= the pool mean, integer-exact) — the
    // conditions that uniquely characterize the PAV solution
    "q_isotonic" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      val scored = d.select(
        (((col("id") * 13) % 101).cast("double") / 100.0).as("score"),
        (((col("id") * 37) % 97) % 2).cast("double").as("label"))
      val steps = pin(ops.Classifier.isotonicCalibration(
        scored, "score", "label"))
      val ps = scored.groupBy(col("score").as("__s"))
        .agg(sum("label").as("sy"), count(lit(1)).as("cnt"))
      val byPool = steps.join(ps,
          col("__s") >= col("score_lo") && col("__s") <= col("score_hi"))
        .groupBy("score_lo", "score_hi", "n", "fitted")
        .agg(sum("sy").as("psy"), sum("cnt").as("pn"))
        .localCheckpoint()
      val badPools = byPool.filter(col("pn") =!= col("n") ||
          round(col("psy") / col("pn"), 9) =!= col("fitted"))
        .count()
      val w = Window.orderBy("score_lo")
      val ordered = byPool.select(col("score_lo"), col("score_hi"),
        col("fitted"), col("psy"), col("pn"),
        lag("fitted", 1).over(w).as("prev_fit"),
        lag("score_hi", 1).over(w).as("prev_hi"))
      val nonMono = ordered.filter(col("prev_fit").isNotNull &&
        col("prev_fit") > col("fitted")).count()
      val overlap = ordered.filter(col("prev_hi").isNotNull &&
        col("prev_hi") >= col("score_lo")).count()
      // GCM prefix certificate: within each pool, every PROPER prefix
      // (by ascending score) satisfies prefSy·pn >= psy·prefCnt
      val wp = Window.partitionBy("score_lo").orderBy("__s")
      val prefix = steps.join(ps,
          col("__s") >= col("score_lo") && col("__s") <= col("score_hi"))
        .select(col("score_lo"), col("score_hi"), col("__s"),
          sum("sy").over(wp).as("pref_sy"),
          sum("cnt").over(wp).as("pref_cnt"))
        .join(byPool.select(col("score_lo"), col("psy"), col("pn")),
          "score_lo")
      val prefixViolations = prefix.filter(
        col("__s") < col("score_hi") &&
          col("pref_sy") * col("pn") < col("psy") * col("pref_cnt"))
        .count()
      val cov = byPool.agg(sum("pn").as("rows_covered")).head().getLong(0)
      import s.implicits._
      Seq((ps.count(), scored.count(), cov,
        scored.agg(sum("label")).head().getDouble(0).toLong,
        badPools, nonMono, overlap, prefixViolations))
        .toDF("n_scores", "n_rows", "rows_covered", "sum_y",
          "bad_pools", "non_monotone", "overlaps", "prefix_violations")
    }),

    // chi-square independence + Cramér's V between crawl source and a
    // synthetic label — the drift-association audit
    "q_chi2" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      ops.Classifier.chiSquareIndependence(
        d.select(col("source"),
          ((col("doc_id").cast("long") * 7) % 3).cast("string")
            .as("lab")),
        "source", "lab")
    }),

    // Poisson-bootstrap CI for mean(n_chars): 60 replicate means from
    // ONE aggregate pass (no explode — the oracle MAY explode, DuckDB
    // pays 30k rows; the engine must not, plan-audited)
    "q_bootstrap" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      ops.Classifier.bootstrapMeanCI(
        d.select(col("doc_id"), col("n_chars").cast("double").as("v")),
        "v", "doc_id", replicates = 60, alpha = 0.1)
    }),

    // interval-metric Krippendorff alpha over synthetic 1..5 ratings
    // (item = doc_id mod 40): squared-distance disagreement from pure
    // per-item power sums — exact integer sums, one closed form
    "q_alpha_interval" -> ((s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id").cast("long").as("id"))
      ops.Classifier.krippendorffAlphaInterval(
        d.select((col("id") % 40).as("item"),
          ((col("id") * 7) % 5 + 1).cast("double").as("x")),
        "item", "x")
    }),

    // paired model comparison, leg 1 — McNemar's continuity-corrected
    // test over two deterministic 3-way predictors of the same label:
    // everything is exact-integer counts and one closed form
    "q_mcnemar" -> ((s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id").cast("long").as("id"))
      ops.Classifier.mcnemarTest(
        d.select((col("id") * 7 % 3).cast("string").as("y"),
          (col("id") * 11 % 3).cast("string").as("a"),
          (col("id") * 13 % 3).cast("string").as("b")),
        "y", "a", "b")
    }),

    // paired model comparison, leg 2 — Poisson-bootstrap CI on the
    // accuracy DELTA of the same two predictors (paired resample: each
    // replicate reweights the same rows for both models); the oracle
    // replays every md5→Poisson draw and the order-statistic CI
    "q_paired_delta" -> ((s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id").cast("long").as("id"))
      ops.Classifier.pairedBootstrapDelta(
        d.select(col("id"),
          (col("id") * 7 % 3).cast("string").as("y"),
          (col("id") * 11 % 3).cast("string").as("a"),
          (col("id") * 13 % 3).cast("string").as("b")),
        "y", "a", "b", "id", replicates = 40, alpha = 0.1)
    }),

    // k-anonymity / l-diversity release audit over (doc_id mod 25,
    // source) quasi-identifiers with a 3-way sensitive label
    "q_privacy" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      ops.Classifier.privacyAudit(
        d.select((col("doc_id").cast("long") % 25).as("region"),
          col("source"),
          ((col("doc_id").cast("long") * 7) % 3).cast("string")
            .as("sensitive")),
        Seq("region", "source"), "sensitive", k = 5, l = 2)
    }),

    // per-slice accuracy with the gap against overall — the slice cut
    // of the classification report, by crawl source
    "q_slice_accuracy" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      ops.Classifier.sliceAccuracy(
        d.select(col("source"),
          ((col("doc_id").cast("long") * 7) % 3).cast("string")
            .as("label"),
          ((col("doc_id").cast("long") * 11) % 3).cast("string")
            .as("pred")),
        "label", "pred", "source")
        .orderBy("slice")
    }),

    // regression report (MAE/RMSE/R²/Pearson from one power-sum pass)
    // on a correlated synthetic predictor/target pair
    "q_regression" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      ops.Classifier.regressionReport(d.select(
        (((col("id") * 13) % 101).cast("double") / 100.0).as("pred"),
        ((((col("id") * 13) % 101) + ((col("id") * 7) % 13))
          .cast("double") / 113.0).as("target")),
        "pred", "target")
    }),

    // Spearman rank correlation (average-tie ranks) between two tied
    // synthetic columns; ranks are half-integers so the oracle's
    // window replay matches bit-for-bit
    "q_spearman" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      ops.Classifier.spearmanCorrelation(d.select(
        (((col("id") * 13) % 101).cast("double") / 100.0).as("a"),
        ((col("id") * 29) % 89).cast("double").as("b")), "a", "b")
    }),

    // two-proportion pooled z on an even/odd A/B split of a synthetic
    // pass indicator
    "q_twoprop" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
      ops.Classifier.twoProportionZ(d.select(
        (col("id") % 2).cast("string").as("grp"),
        (((col("id") * 37) % 97) % 2).cast("double").as("ok")),
        "grp", "ok")
    }),

    // split-conformal threshold on a deterministic calibration/test
    // split of a synthetic nonconformity score: k-th order statistic
    // at alpha = 0.1, coverage measured on the held-out half
    "q_conformal" -> ((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
        .withColumn("score",
          ((col("id") * 31) % 211).cast("double") / 211.0)
      ops.Classifier.splitConformal(
        d.filter(col("id") % 2 === 0), "score",
        d.filter(col("id") % 2 === 1), "score", alpha = 0.1)
    }),

    // SemDeDup derived check: cluster-blocked pairs must be an exact-cosine
    // subset of the all-pairs baseline (precision 1.0), recover the
    // measured recall floor, and the keep-filter must actually prune
    "q_dedup_semantic" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val sem = pin(Similarity.semDedupPairs(emb, "embedding", "vec_id",
        threshold = 0.4, nlist = 8).select("id_a", "id_b"))
      val exact = pin(Dedup.embeddingNearDup(emb, "embedding", "vec_id",
        threshold = 0.4, Nil).select("id_a", "id_b"))
      val kept = Similarity.semDedupKeep(emb, "embedding", "vec_id",
        threshold = 0.4, nlist = 8)
      val keys = Seq("id_a", "id_b")
      val one = sem.agg(count(lit(1)).as("n_sem"))
        .crossJoin(sem.join(exact, keys, "left_anti").agg(count(lit(1)).as("n_bad")))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .crossJoin(exact.join(sem, keys, "left_anti").agg(count(lit(1)).as("n_miss")))
        .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
        .crossJoin(emb.agg(count(lit(1)).as("n_emb")))
      checkRows(one,
        "pairs_nonempty" -> (col("n_sem") >= 1),
        "precision_exact" -> (col("n_bad") === 0),
        "recall_floor" ->
          (col("n_miss").cast("double") <= col("n_exact") * (1 - SemDedupRecallFloor)),
        "keep_prunes" -> (col("n_kept") < col("n_emb") && col("n_kept") >= 1))
    }),

    // ===== §1.3/S5: N-d tensor cells + dim slicing =======================
    // DATA(chan=4, corr=2) cells built per lineitem row; mean amplitude over
    // all cells, and over the chan-sliced first two channels (S5 getcolslice)
    "q_s5_tensor" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      val data = transform(sequence(lit(0), lit(3)), c =>
        transform(sequence(lit(0), lit(1)), p =>
          struct((col("l_quantity") + c).as("re"),
            (col("l_discount") * p).as("im"))))
      def amp(d: Column, cells: Int) =
        aggregate(flatten(d), lit(0d),
          (acc, z) => acc + sqrt(z.getField("re") * z.getField("re") +
            z.getField("im") * z.getField("im"))) / cells
      li.withColumn("DATA", data)
        .withColumn("amp", amp(col("DATA"), 8))
        .withColumn("amp_sliced", amp(slice(col("DATA"), 1, 2), 4))
        .select(liKey.map(col) :+ round(col("amp"), 6).as("amp") :+
          round(col("amp_sliced"), 6).as("amp_sliced"): _*)
        .orderBy(liKey.map(col): _*)
    }),

    // ===== §2.11: custom expression registered as a SQL function =========
    "q_sql_udf" -> ((s, dir) => {
      org.apache.spark.sql.graft.ColumnShim.registerFunction(s, "vec_cosine",
        exprs => graft.expr.VectorExprs.VecCosine(exprs(0), exprs(1)))
      T(s, dir, "embeddings").filter(col("vec_id") < 10)
        .createOrReplaceTempView("emb_small")
      s.sql(
        """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |       round(vec_cosine(a.embedding, b.embedding), 6) AS cosine
          |FROM emb_small a JOIN emb_small b ON a.vec_id < b.vec_id
          |ORDER BY id_a, id_b""".stripMargin)
    }),

    // ===== §2.11: typed Aggregator (UDAF) ================================
    "q_agg_weighted" -> ((s, dir) => {
      val wmean = udaf(graft.functions.Aggregators.weightedMean,
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaDouble))
      T(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(round(wmean(col("l_quantity"), col("l_extendedprice")), 6)
          .as("wmean_qty"))
        .orderBy("l_returnflag")
    }),

    // cross-document duplicate-SPAN removal, keep-first (ExactSubstr, Lee
    // et al. 2021) — derived checks: the corpus HAD duplicated 7-grams;
    // after the rewrite every originally-duplicated gram survives at most
    // once corpus-wide, with at least one canonical keeper surviving;
    // clean docs come back as one untouched piece; full roster
    "q_dedup_spans" -> ((s, dir) => {
      val spanN = 7
      val docs = T(s, dir, "documents")
      // r22: the duplicated-gram set comes from the operator core's own
      // materialized gram frame — definitionally identical to re-deriving
      // it from the raw documents (same tokenizer, same positional gram
      // hashes, same df > 1 census; see dedupSpansKeepFirstCore), without
      // re-tokenizing and re-exploding the corpus a second time. The
      // post-rewrite recount below stays fully independent — it audits
      // the operator's OUTPUT.
      val (scrubbedRaw, dupSet) = Dedup.dedupSpansKeepFirstCore(
        docs, "text", "doc_id", n = spanN)
      val scrubbed = pin(scrubbedRaw)
      val dupBefore = pin(dupSet.select(col("__g").as("g")))
      // r22: tokenize each piece in its OWN projection before the gram
      // transform — inlining gramTokens(piece) into gramsOf captures the
      // tokenizer subtree inside the transform lambda, where it re-runs
      // once per gram POSITION (O(tokens²) per piece; measured 4.4 s vs
      // 0.5 s for this recount at sf0.1). A multiply-referenced aliased
      // column survives CollapseProject, so the split runs once per piece.
      val after = scrubbed.filter(length(col("scrub_text")) > 0)
        .select(explode(split(col("scrub_text"), "\n")).as("piece"))
        .select(Dedup.gramTokens(col("piece")).as("__ptoks"))
        .select(explode(
          Dedup.positionalGramHashes(col("__ptoks"), spanN)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c_after"))
      val joined = pin(dupBefore.join(after, Seq("g"), "left"))
      val one = dupBefore.agg(count(lit(1)).as("n_dup"))
        .crossJoin(joined.agg(
          sum(when(col("c_after") > 1, 1L).otherwise(0L)).as("n_viol"),
          sum(when(col("c_after") === 1, 1L).otherwise(0L)).as("n_kept_once")))
        .crossJoin(scrubbed.agg(
          sum(when(col("n_removed") > 0, 1L).otherwise(0L)).as("n_touched"),
          sum(when(col("n_removed") === 0 && col("n_tokens") > 0 &&
            col("n_pieces") =!= 1, 1L).otherwise(0L)).as("bad_clean"),
          count(lit(1)).as("n_docs")))
        .crossJoin(docs.agg(count(lit(1)).as("n_in")))
      checkRows(one,
        "had_duplicates" -> (col("n_dup") >= 1L),
        "dup_grams_destroyed" -> (col("n_viol") === 0L),
        "keeper_survives" -> (col("n_kept_once") >= 1L),
        "docs_touched" -> (col("n_touched") >= 1L),
        "clean_docs_one_piece" -> (col("bad_clean") === 0L),
        "full_roster" -> (col("n_docs") === col("n_in")))
    }),

    // END-TO-END CURATION RECIPE: the composed pipeline a user would run —
    // normalize → quality/langid gate → exact dedup → MinHash near-dedup →
    // bloom decontamination → proportional interleave. Derived checks:
    // every stage only drops rows, the survivors are exactly-unique and
    // PROVABLY decontaminated (exact n-gram recheck on the output), and
    // the final ordering is a bijection onto [0, n).
    "q_curation_e2e" -> ((s, dir) => {
      val (bench, c0, c2, c3, c4, c5) = curatedCorpus(s, dir)
      val ordered = pin(Sampling.interleaveStrata(
        c5.select(col("doc_id"), col("source"), col("text")),
        "doc_id", "source"))
      val recheck = Dedup.decontaminate(c5, bench, "text", "doc_id", n = 4)
      val one = c0.agg(count(lit(1)).as("n0"))
        .crossJoin(c2.agg(count(lit(1)).as("n2")))
        .crossJoin(c3.agg(count(lit(1)).as("n3")))
        .crossJoin(c4.agg(count(lit(1)).as("n4")))
        .crossJoin(c5.agg(count(lit(1)).as("n5"),
          countDistinct(col("text")).as("n5_texts")))
        .crossJoin(ordered.agg(count(lit(1)).as("n6"),
          countDistinct(col("interleave_pos")).as("n_pos"),
          max(col("interleave_pos")).as("max_pos")))
        .crossJoin(recheck.agg(count(lit(1)).as("n_contam")))
      checkRows(one,
        "stages_monotone" -> (col("n2") <= col("n0") &&
          col("n3") <= col("n2") && col("n4") <= col("n3") &&
          col("n5") <= col("n4")),
        "gates_bite" -> (col("n5") < col("n0")),
        "final_nonempty" -> (col("n5") >= 1L),
        "exactly_unique" -> (col("n5_texts") === col("n5")),
        "decontaminated_proven" -> (col("n_contam") === 0L),
        "order_is_bijection" -> (col("n6") === col("n5") &&
          col("n_pos") === col("n6") && col("max_pos") === col("n6") - 1))
    }),

    // the pretraining-corpus pipeline END-TO-END into the binary sinks:
    // normalize → quality/langid gate → exact + MinHash dedup →
    // decontaminate → train a REAL byte-level BPE on the curated corpus
    // → encode to vocabulary ids → FFD pack → TokenBin shards AND
    // WebDataset tar shards, then read BOTH back and prove (derived
    // checks) byte-lossless round-trips, manifest integrity (write-side
    // totals == read-back inventory == distributed re-hash), FFD pack
    // invariants (every curated doc packed exactly once, id accounting,
    // token budget), dataloader rank coverage, AND the decode leg: the
    // packed id streams read back from TokenBin split on the separator,
    // decode through the learned vocabulary, and must reproduce every
    // curated document BYTE-EXACTLY (md5 full-outer compare) — the
    // contract a training dataloader actually consumes. The separator
    // id is vocab.size, one PAST the id space, so it provably cannot
    // collide with any id the encoder emits (gated below). This is the
    // composed path a real corpus run takes — the committer-bypassing
    // sink code exercised through the whole chain, not per-component.
    "q_pretrain_e2e" -> ((s, dir) => {
      val (_, c0, _, _, _, curated) = curatedCorpus(s, dir)
      // REAL tokenizer: byte-level BPE trained on the curated corpus
      // itself (one piece-census job + the bounded driver merge loop),
      // full byte alphabet in the vocab so no id is ever <unk> and the
      // decode is total
      val merges = ops.Bpe.learnBpeByteLevel(curated, "text",
        numMerges = 200, maxWords = 20000, minCount = 2)
      val vocab = ops.Bpe.vocabFromMerges(merges, ops.Bpe.ByteAlphabet)
      val sepId = vocab.size
      val enc = pin(ops.Bpe.applyBpeIdsByteLevel(curated, "text", merges,
          vocab)
        .select(col("source"), col("doc_id"), col("bpe_ids").as("ids")))
      // sep-collision / id-space audit: every emitted id must be a
      // REAL vocabulary id — never the separator or past it, and never
      // 0 = <unk> (the byte alphabet makes unknowns impossible; an
      // <unk> here would silently decode as the literal string
      // "<unk>"). Id 1 (EndOfWord) is NOT flagged: a byte-level merge
      // chain over text containing the literal "</w>" can legitimately
      // fuse to that symbol, which vocabFromMerges dedups onto index 1
      // — the decode leg still reproduces the text byte-exactly.
      val idAudit = enc.agg(
        sum(size(filter(col("ids"),
          i => i >= lit(sepId) || i === lit(0)))).as("bad_ids"),
        sum(size(col("ids"))).as("n_ids_enc"))
      val packs = pin(Sampling.assemblePackedIdsFFD(enc, "source", "doc_id",
        "ids", size(col("ids")), maxTokens = 1024, sepId = sepId))
      // unique long shard key WITHOUT a global window: the source dim is
      // tiny (broadcast) and pack ids are per-source dense ints, so
      // key = source_index << 32 | pack_id is collision-free
      val srcDim = packs.select(col("source")).distinct()
        .withColumn("sidx",
          row_number().over(Window.orderBy("source")).cast("long"))
      val keyed = pin(packs.join(broadcast(srcDim), Seq("source"))
        .withColumn("key", shiftleft(col("sidx"), 32) + col("pack_id")))
      val outTb = tmp("pretrain_tokenbin")
      val (wSeqs, wToks) = graft.sources.TokenBin.write(
        keyed, "key", "packed_ids", outTb, shards = 4)
      val outWd = tmp("pretrain_webdataset")
      val wdDocs = curated.select(col("doc_id"), col("text"),
        to_json(struct(col("doc_id"), col("source"))).as("meta"))
      val (wdSamples, wdMembers) = graft.sources.WebDataset.write(
        wdDocs, "doc_id", Seq(("text", "txt"), ("meta", "json")), outWd,
        shards = 4)
      // read-back legs: full-outer joins so a dropped OR phantom row on
      // either side surfaces as a null-md5 mismatch
      val tbRead = pin(s.read.format("tokenbin").load(outTb)
        .select(col("key"), col("ids")))
      val tbBack = tbRead
        .select(col("key"), md5(concat_ws(",",
          col("ids").cast("array<string>"))).as("back_md5"))
      val tbCmp = keyed.select(col("key"), md5(concat_ws(",",
          col("packed_ids").cast("array<string>"))).as("src_md5"))
        .join(tbBack, Seq("key"), "full_outer")
      // the DECODE leg: packed ids as READ BACK from the binary shards
      // split on the separator, decode through the learned vocab, and
      // must reproduce every curated document byte-exactly (the
      // doc_ids placement list rides the write-side frame; the id
      // payload under test is the read-back one)
      val decoded = ops.Bpe.decodePackedByteLevel(
        tbRead.join(keyed.select(col("key"), col("doc_ids")), Seq("key")),
        "ids", "doc_ids", vocab, sepId)
      val decCmp = curated.select(col("doc_id"),
          md5(col("text")).as("src_md5"))
        .join(decoded.select(col("doc_id"),
          md5(col("text")).as("dec_md5")), Seq("doc_id"), "full_outer")
      val wdBack = graft.sources.WebDataset.read(s, outWd)
        .groupBy(col("key").cast("long").as("doc_id"))
        .agg(max(when(col("ext") === "txt", md5(col("content"))))
          .as("back_md5"), count(lit(1)).as("n_members"))
      val wdCmp = curated.select(col("doc_id"), md5(col("text")).as("src_md5"))
        .join(wdBack, Seq("doc_id"), "full_outer")
      val tbVer = graft.sources.TokenBin.verifyShards(s, outTb)
      val wdVer = graft.sources.WebDataset.verifyShards(s, outWd)
      val wdAsg = graft.sources.WebDataset.assignShards(s, outWd, workers = 3)
      val one = c0.agg(count(lit(1)).as("n0"))
        .crossJoin(curated.agg(count(lit(1)).as("n5")))
        .crossJoin(idAudit)
        .crossJoin(packs.agg(count(lit(1)).as("n_packs"),
          sum("n_docs").as("docs_packed"), sum("n_ids").as("ids_packed"),
          sum(when(col("n_ids") =!= size(col("packed_ids")) ||
            (col("n_docs") > 1 && col("n_ids") > lit(1024) + col("n_docs")),
            1L).otherwise(0L)).as("bad_packs")))
        .crossJoin(tbCmp.agg(count(lit(1)).as("tb_rows"),
          sum(when(col("src_md5").isNull || col("back_md5").isNull ||
            col("src_md5") =!= col("back_md5"), 1L).otherwise(0L))
            .as("tb_bad")))
        .crossJoin(decCmp.agg(count(lit(1)).as("dec_rows"),
          sum(when(col("src_md5").isNull || col("dec_md5").isNull ||
            col("src_md5") =!= col("dec_md5"), 1L).otherwise(0L))
            .as("dec_bad")))
        .crossJoin(tbVer.agg(
          sum(when(!col("ok"), 1L).otherwise(0L)).as("tb_badshards"),
          count(lit(1)).as("tb_shards")))
        // the writer emits only NON-EMPTY shards (an absent shard with
        // no manifest entry is legitimately empty, not torn — torn is
        // no manifest at all), so the expected shard count is the
        // number of shard slots the keys actually hit
        .crossJoin(keyed.agg(countDistinct(pmod(col("key"), lit(4L)))
          .as("tb_expected_shards")))
        .crossJoin(wdCmp.agg(count(lit(1)).as("wd_rows"),
          sum(when(col("src_md5").isNull || col("back_md5").isNull ||
            col("src_md5") =!= col("back_md5") || col("n_members") =!= 2L,
            1L).otherwise(0L)).as("wd_bad")))
        .crossJoin(wdVer.agg(
          sum(when(!col("ok"), 1L).otherwise(0L)).as("wd_badshards"),
          count(lit(1)).as("wd_shards")))
        .crossJoin(wdAsg.groupBy("shard").agg(count(lit(1)).as("c"))
          .agg(sum(when(col("c") =!= 1L, 1L).otherwise(0L)).as("wd_uncov"),
            count(lit(1)).as("wd_assigned")))
      checkRows(one,
        "curation_bites" -> (col("n5") >= 1L && col("n5") < col("n0")),
        "every_doc_packed" -> (col("docs_packed") === col("n5")),
        "pack_invariants" -> (col("bad_packs") === 0L),
        // every emitted id is a real vocab id: never <unk>, never the
        // separator, never past the id space — and the pack id totals
        // account for exactly the encoder's output plus one separator
        // per document
        "sep_id_clean" -> (col("bad_ids") === 0L &&
          col("ids_packed") === col("n_ids_enc") + col("n5")),
        // the packed streams decode back to every curated document
        // byte-exactly through the learned vocabulary
        "decode_byte_exact" -> (col("dec_bad") === 0L &&
          col("dec_rows") === col("n5")),
        "tokenbin_write_totals" -> (lit(wSeqs) === col("n_packs") &&
          lit(wToks) === col("ids_packed")),
        "tokenbin_lossless" -> (col("tb_bad") === 0L &&
          col("tb_rows") === col("n_packs")),
        "tokenbin_manifest" -> (col("tb_badshards") === 0L &&
          col("tb_shards") === col("tb_expected_shards")),
        "webdataset_write_totals" -> (lit(wdSamples) === col("n5") &&
          lit(wdMembers) === col("n5") * 2L),
        "webdataset_lossless" -> (col("wd_bad") === 0L &&
          col("wd_rows") === col("n5")),
        "webdataset_manifest" -> (col("wd_badshards") === 0L &&
          col("wd_uncov") === 0L && col("wd_assigned") === 4L &&
          col("wd_shards") === 4L))
    }),

    // ===== multimodal binary plumbing ====================================
    // header-only media sniffing — derived checks: for deterministic
    // well-formed payloads (PNG/GIF/BMP/JPEG/WAV headers + junk tails,
    // dims/rate/channels derived from doc_id) the sniffer recovers the
    // exact metadata it was built with; truncated payloads sniff unknown
    "q_media_sniff" -> ((s, dir) => {
      val gen = udf((id: Long, fmt: String, w: Int, h: Int, rate: Int, ch: Int) =>
        Multimodal.syntheticPayload(id, fmt, w, h, rate, ch))
      val base = T(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 29 === 0, lit("corrupt"))
          .otherwise(element_at(
            array(lit("png"), lit("gif"), lit("bmp"), lit("jpeg"), lit("wav")),
            (col("doc_id") % 5).cast("int") + 1)).as("fmt"),
        (col("doc_id") % 640 + 1).cast("int").as("w"),
        (col("doc_id") % 480 + 1).cast("int").as("h"),
        (lit(8000) + (col("doc_id") % 8).cast("int") * 4000).as("rate"),
        ((col("doc_id") % 2).cast("int") + 1).as("ch"))
      val sniffed = pin(base.withColumn("info", Multimodal.sniffMedia(
        gen(col("doc_id"), col("fmt"), col("w"), col("h"),
          col("rate"), col("ch")))))
      val one = sniffed.agg(
        sum(when(col("fmt") === "corrupt" && col("info.format") =!= "unknown",
          1L).otherwise(0L)).as("bad_corrupt"),
        sum(when(col("fmt") =!= "corrupt" && col("info.format") =!= col("fmt"),
          1L).otherwise(0L)).as("bad_fmt"),
        sum(when(col("fmt").isin("png", "gif", "bmp", "jpeg") &&
          (col("info.width") =!= col("w") || col("info.height") =!= col("h")),
          1L).otherwise(0L)).as("bad_dims"),
        sum(when(col("fmt") === "wav" &&
          (col("info.sampleRate") =!= col("rate") ||
            col("info.channels") =!= col("ch")), 1L).otherwise(0L)).as("bad_wav"),
        count(lit(1)).as("n"))
      checkRows(one,
        "corrupt_rejected" -> (col("bad_corrupt") === 0L),
        "format_detected" -> (col("bad_fmt") === 0L),
        "dims_roundtrip" -> (col("bad_dims") === 0L),
        "wav_meta_roundtrip" -> (col("bad_wav") === 0L),
        "corpus_nonempty" -> (col("n") >= 1L))
    }),

    "q_multimodal" -> ((s, dir) => {
      val items = Multimodal.fromText(s, T(s, dir, "documents"), "doc_id", "text")
      val feats = Multimodal.extractFeatures(items)
      feats.toDF()
        .select(col("id").as("doc_id"), col("kind"),
          col("byteLen").as("byte_len"), col("digest"))
        .orderBy("doc_id")
    }),

    // image near-dup via perceptual hash: 240 deterministic PNGs — one
    // pattern per even id, the odd id a 1-dHash-bit edit of it (different
    // bytes, different md5, so exact dedup misses the pair) — pushed
    // through the REAL decode → dHash → quarter-blocked Hamming join.
    // The oracle is structurally exact: the pair set (2k, 2k+1, hamming 1)
    // and nothing else (cross-pattern hashes are splitmix64-random 64-bit
    // points, far beyond Hamming 3 — deterministic, validated at all SFs)
    "q_image_dedup" -> ((s, dir) => {
      import s.implicits._
      val ids = T(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 240).as[Long]
      val items = ids.map(id =>
        Multimodal.syntheticGridImage(id, id / 2, flipBit = id % 2 == 1))
      Multimodal.imageNearDup(items, maxDist = 3)
        .orderBy("id_a", "id_b")
    }),

    // audio near-dup via the amplitude-contour fingerprint — the same
    // controlled construction as q_image_dedup over REAL WAV decode:
    // per even id a 65-window tone pattern, the odd id a 1-bit edit
    "q_audio_dedup" -> ((s, dir) => {
      import s.implicits._
      val ids = T(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 240).as[Long]
      val items = ids.map(id =>
        Multimodal.syntheticToneWav(id, id / 2, flipBit = id % 2 == 1))
      Multimodal.audioNearDup(items, maxDist = 3)
        .orderBy("id_a", "id_b")
    })
  )

  // ------------------------------------------------------------- oracle SQL

  /** Shared by q_bm25 (inline) and q_bm25_index (persisted index) — both
    * must produce byte-identical scores.
    */
  private val Bm25OracleSql =
    """WITH base AS (
      |  SELECT doc_id,
      |    CASE WHEN len(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS dl
      |  FROM documents
      |), stats AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      |  FROM base
      |), terms AS (
      |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id,
      |          unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      |        FROM documents)
      |  WHERE token IN ('spark', 'merge', 'window', 'hash')
      |  GROUP BY doc_id, token
      |), dfq AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS df FROM terms GROUP BY token
      |), scored AS (
      |  SELECT t.doc_id,
      |    ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1.0) * t.tf * (1.2 + 1.0) /
      |      (t.tf + ((b.dl / s.avgdl) * 0.75 + (1.0 - 0.75)) * 1.2) AS sc
      |  FROM terms t JOIN dfq f USING (token) JOIN base b USING (doc_id)
      |  CROSS JOIN stats s
      |)
      |SELECT doc_id, round(sum(sc), 9) AS score,
      |  CAST(count(*) AS BIGINT) AS n_terms_hit
      |FROM scored GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin

  def oracleSql: Map[String, String] = {
    val liRowId =
      s"""WITH __r AS (
         |  SELECT *, row_number() OVER (ORDER BY $liKeySql) - 1 AS rid
         |  FROM lineitem
         |)""".stripMargin

    Map(
      "q_s1_scan" ->
        s"""$liRowId
           |SELECT $liKeySql, rid AS "ROWID" FROM __r
           |WHERE l_quantity > 30 AND l_discount < 0.03
           |ORDER BY "ROWID"""".stripMargin,

      "q_s1_group" ->
        """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
          |       round(sum(l_quantity), 4) AS sum_qty
          |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "q_s2_ms" ->
        """SELECT CAST(user_id % 2 AS BIGINT) AS "FIELD_ID",
          |       CAST(event_id % 3 AS BIGINT) AS "DATA_DESC_ID",
          |       CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS total
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "q_s3_dispatch" ->
        "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",

      "q_s10_update" ->
        """SELECT l_returnflag,
          |  round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity * 2
          |                 ELSE l_quantity END), 4) AS sum_qty,
          |  CAST(count(*) AS BIGINT) AS n
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_table_stats" -> Seq("doc_id", "lang", "n_chars", "source", "text")
        .map(c =>
          s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count($c) AS BIGINT) AS n_nonnull,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_value,
             |  CAST(max($c) AS VARCHAR) AS max_value
             |FROM documents""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\""),

      "q_table_diff" ->
        """WITH b AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text,
          |    lang, source, n_chars
          |  FROM documents WHERE doc_id % 17 != 0
          |  UNION ALL
          |  SELECT doc_id + 1000000, text, lang, source, n_chars
          |  FROM documents WHERE doc_id % 19 = 0
          |)
          |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
          |  CASE WHEN a.doc_id IS NULL THEN 'added'
          |       WHEN b.doc_id IS NULL THEN 'removed'
          |       WHEN NOT (a.text IS NOT DISTINCT FROM b.text
          |             AND a.lang IS NOT DISTINCT FROM b.lang
          |             AND a.source IS NOT DISTINCT FROM b.source
          |             AND a.n_chars IS NOT DISTINCT FROM b.n_chars)
          |         THEN 'changed' END AS change
          |FROM documents a FULL OUTER JOIN b ON a.doc_id = b.doc_id
          |WHERE (CASE WHEN a.doc_id IS NULL THEN 'added'
          |            WHEN b.doc_id IS NULL THEN 'removed'
          |            WHEN NOT (a.text IS NOT DISTINCT FROM b.text
          |                  AND a.lang IS NOT DISTINCT FROM b.lang
          |                  AND a.source IS NOT DISTINCT FROM b.source
          |                  AND a.n_chars IS NOT DISTINCT FROM b.n_chars)
          |              THEN 'changed' END) IS NOT NULL
          |ORDER BY doc_id""".stripMargin,

      "q_s11_append" ->
        """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
          |       round(sum(l_extendedprice), 2) AS sum_price
          |FROM lineitem WHERE l_returnflag IN ('A', 'R')
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_s13_convert" ->
        """SELECT n_nationkey, n_name, n_regionkey FROM nation
          |WHERE n_nationkey != 2 ORDER BY n_nationkey""".stripMargin,

      "q_s13_zarr" ->
        """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n,
          |       max(n_name) AS max_name
          |FROM nation WHERE n_nationkey != 2
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_zarr" ->
        """SELECT l_linenumber, CAST(count(*) AS BIGINT) AS n,
          |       round(sum(l_quantity), 4) AS sum_qty,
          |       round(sum(l_discount), 4) AS sum_disc,
          |       round(sum(l_extendedprice), 2) AS sum_price,
          |       max(l_returnflag) AS max_flag,
          |       CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_flags
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_s14_keywords" ->
        """SELECT 'rows' AS key, CAST(count(*) AS VARCHAR) AS value FROM nation
          |UNION ALL SELECT 'table', 'nation' ORDER BY key""".stripMargin,

      "q_p1_project" ->
        s"SELECT $liKeySql FROM lineitem ORDER BY $liKeySql",

      "q_p2_taql" ->
        s"""SELECT $liKeySql, l_returnflag FROM lineitem
           |WHERE (l_returnflag = 'A' OR l_returnflag = 'R') AND l_quantity >= 45
           |  AND l_suppkey IN (1,2,3,4,5) AND NOT (l_discount > 0.05)
           |ORDER BY $liKeySql""".stripMargin,

      "q_p3_drop" ->
        (s"SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, " +
          s"l_extendedprice FROM lineitem ORDER BY $liKeySql"),

      "q_p4_expr" ->
        s"""SELECT $liKeySql,
           |  round(l_extendedprice * (1 - l_discount) / 100 + 2, 6) AS net,
           |  floor(l_quantity / 7) AS bucket7
           |FROM lineitem ORDER BY $liKeySql""".stripMargin,

      "q_p5_assign" ->
        s"""SELECT $liKeySql,
           |  l_returnflag || '/' || l_linestatus AS flag_status,
           |  round(l_extendedprice * (1 + l_tax), 4) AS charge
           |FROM lineitem ORDER BY $liKeySql""".stripMargin,

      "q_j1_lookup" ->
        """SELECT n_name, CAST(count(*) AS BIGINT) AS n,
          |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM lineitem
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_j2_chain" ->
        """SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
          |       round(sum(o_totalprice), 2) AS total
          |FROM orders
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_f2_fragments" ->
        """SELECT l_returnflag,
          |  round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity + 100
          |                 ELSE l_quantity END), 4) AS sum_qty,
          |  round(sum(CASE WHEN l_linenumber = 1 THEN 0.99 ELSE l_tax END), 4)
          |    AS sum_tax
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_compact" ->
        """SELECT l_returnflag,
          |  round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity + 100
          |                 ELSE l_quantity END), 4) AS sum_qty,
          |  round(sum(CASE WHEN l_linenumber = 1 THEN 0.99 ELSE l_tax END), 4)
          |    AS sum_tax
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_s14_kw_update" ->
        """SELECT * FROM (VALUES ('ADDED', 'a'), ('EDIT', 'new'),
          |                      ('KEEP', 'v0')) AS t(key, value)
          |ORDER BY key""".stripMargin,

      "q_join_smj" ->
        """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
          |       round(sum(l_extendedprice), 2) AS sum_price
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_join_semi" ->
        """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
          |FROM orders
          |WHERE EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey AND l_quantity > 49)
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_join_anti" ->
        """SELECT p_brand, CAST(count(*) AS BIGINT) AS n
          |FROM part
          |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_join_theta" ->
        """SELECT n_name, CAST(count(*) AS BIGINT) AS n
          |FROM supplier JOIN nation
          |  ON s_acctbal >= n_nationkey * 100 AND s_acctbal <= n_nationkey * 400
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_join_asof" ->
        """WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
          |           WHERE event_type = 'purchase'),
          |     r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
          |           WHERE event_type = 'click')
          |SELECT l.event_id, l.user_id, round(r.value, 4) AS last_click_value
          |FROM l ASOF LEFT JOIN r
          |  ON l.user_id = r.user_id AND l.ts >= r.ts
          |ORDER BY l.event_id""".stripMargin,

      "q_join_range" ->
        """SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
          |       round(sum(l_quantity), 4) AS sum_qty
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE l_quantity >= CAST(p_size AS DOUBLE)
          |  AND l_quantity <= CAST(p_size AS DOUBLE) + 30
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_a1_gaggr" ->
        s"""$liRowId
           |SELECT l_orderkey,
           |       array_to_string(list(l_linenumber ORDER BY l_linenumber), ',')
           |         AS lines,
           |       CAST(count(*) AS BIGINT) AS gcount,
           |       CAST(min(rid) AS BIGINT) AS first_rowid
           |FROM __r GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_a2_perrow" ->
        """SELECT r_regionkey, r_name,
          |       row_number() OVER (ORDER BY r_regionkey) - 1 AS "ROWID"
          |FROM region ORDER BY 3""".stripMargin,

      "q_agg_stats" ->
        """SELECT l_returnflag, round(sum(l_quantity), 4) AS sum_qty,
          |  round(avg(l_quantity), 6) AS avg_qty,
          |  strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship,
          |  strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_agg_rollup" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS flag,
          |       coalesce(l_linestatus, 'ALL') AS status,
          |       CAST(count(*) AS BIGINT) AS n,
          |       round(sum(l_quantity), 4) AS sum_qty
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY 1, 2""".stripMargin,

      "q_agg_cube" ->
        """SELECT coalesce(o_orderstatus, 'ALL') AS status,
          |       coalesce(o_orderpriority, 'ALL') AS priority,
          |       CAST(count(*) AS BIGINT) AS n,
          |       round(sum(o_totalprice), 2) AS total
          |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
          |ORDER BY 1, 2""".stripMargin,

      "q_agg_percentile" ->
        """SELECT l_returnflag,
          |  round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
          |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
          |  round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_pivot" ->
        """SELECT l_linestatus,
          |  round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 4) AS "A",
          |  round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 4) AS "N",
          |  round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 4) AS "R"
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_set_union" ->
        """SELECT DISTINCT c_nationkey AS k FROM customer
          |UNION SELECT DISTINCT s_nationkey FROM supplier ORDER BY k""".stripMargin,

      "q_set_intersect" ->
        """SELECT c_nationkey AS k FROM customer
          |INTERSECT SELECT s_nationkey FROM supplier ORDER BY k""".stripMargin,

      "q_set_except" ->
        """SELECT c_nationkey AS k FROM customer
          |EXCEPT SELECT s_nationkey FROM supplier ORDER BY k""".stripMargin,

      "q_distinct" ->
        """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
          |ORDER BY 1, 2""".stripMargin,

      "q_o1_sort" ->
        s"""SELECT $liKeySql, strftime(l_shipdate, '%Y-%m-%d') AS ship
           |FROM lineitem
           |ORDER BY l_shipdate DESC, l_orderkey, l_linenumber, l_partkey,
           |         l_suppkey, l_quantity, l_extendedprice""".stripMargin,

      "q_o4_topk" ->
        s"""SELECT $liKeySql FROM lineitem
           |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber, l_partkey,
           |         l_suppkey, l_quantity
           |LIMIT 100""".stripMargin,

      "q_w1_window" ->
        s"""SELECT $liKeySql,
           |  CAST(row_number() OVER w AS INTEGER) AS rn,
           |  lag(l_quantity, 1) OVER w AS prev_qty,
           |  round(sum(l_quantity) OVER (w ROWS UNBOUNDED PRECEDING), 4)
           |    AS running_qty
           |FROM lineitem
           |WINDOW w AS (PARTITION BY l_suppkey
           |             ORDER BY l_shipdate, l_orderkey, l_linenumber,
           |                      l_partkey, l_quantity, l_extendedprice)
           |ORDER BY $liKeySql""".stripMargin,

      "q_scalar_funcs" ->
        s"""SELECT $liKeySql,
           |  upper(l_returnflag) AS flag_u,
           |  substring(l_linestatus, 1, 1) AS st1,
           |  l_returnflag || '-' || l_linestatus AS cat,
           |  CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           |  CAST(month(l_shipdate) AS INTEGER) AS ship_month,
           |  round(sqrt(l_quantity), 6) AS sqrt_qty,
           |  CAST(abs(l_discount - 0.05) AS DOUBLE) AS abs_disc,
           |  CAST(length(l_returnflag) AS INTEGER) AS flag_len,
           |  round(ln(l_extendedprice), 6) AS ln_price
           |FROM lineitem ORDER BY $liKeySql""".stripMargin,

      "q_scalar_date" ->
        s"""SELECT $liKeySql,
           |  CAST(date_diff('day', DATE '1995-01-01', l_shipdate) AS INTEGER)
           |    AS days_since,
           |  strftime(l_shipdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
           |  strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS month_start,
           |  CAST(dayofweek(l_shipdate) + 1 AS INTEGER) AS dow,
           |  CAST(quarter(l_shipdate) AS INTEGER) AS qtr
           |FROM lineitem ORDER BY $liKeySql""".stripMargin,

      // NOTE determinism convention: every rounded DOUBLE that can land on
      // +/-0 gets `+ 0.0` on the DuckDB side. Spark's round() goes through
      // BigDecimal (no signed zero -> always +0.0) while DuckDB's round()
      // preserves IEEE -0.0; `-0.0 + 0.0 = +0.0` normalizes the sign.
      "q_complex" ->
        s"""SELECT $liKeySql,
           |  round(l_discount * l_quantity - l_tax * l_linenumber, 6) + 0.0 AS mul_re,
           |  round(l_discount * l_linenumber + l_tax * l_quantity, 6) + 0.0 AS mul_im,
           |  round((l_discount * l_quantity + l_tax * l_linenumber)
           |        / (l_quantity * l_quantity + l_linenumber * l_linenumber), 6)
           |    + 0.0 AS div_re,
           |  round((l_tax * l_quantity - l_discount * l_linenumber)
           |        / (l_quantity * l_quantity + l_linenumber * l_linenumber), 6)
           |    + 0.0 AS div_im,
           |  round(sqrt(l_discount * l_discount + l_tax * l_tax), 6) + 0.0 AS abs_a,
           |  round(-CAST(l_linenumber AS DOUBLE), 6) + 0.0 AS conj_b_im
           |FROM lineitem ORDER BY $liKeySql""".stripMargin,

      "q_scalar_json" ->
        """SELECT event_id,
          |  json_extract_string(props, '$.k') AS k_str,
          |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
          |FROM events ORDER BY event_id""".stripMargin,

      "q_scalar_array" ->
        """SELECT vec_id,
          |  CAST(len(embedding) AS INTEGER) AS dim,
          |  round(CAST(embedding[1] AS DOUBLE), 6) AS first,
          |  round(CAST(embedding[len(embedding)] AS DOUBLE), 6) AS last,
          |  round(list_sum((embedding::DOUBLE[])[1:8]), 6) AS head8_sum
          |FROM embeddings ORDER BY vec_id""".stripMargin,

      "q_stream_real" ->
        """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')
          |    AS window_start,
          |  event_type, CAST(count(*) AS BIGINT) AS n,
          |  round(sum(value), 4) AS total
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "q_stream_tumbling" ->
        """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')
          |    AS window_start,
          |  event_type, CAST(count(*) AS BIGINT) AS n,
          |  round(sum(value), 4) AS total
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "q_stream_dedup" ->
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n_unique_users
          |FROM (SELECT DISTINCT user_id, event_type FROM events)
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_stream_eval" ->
        """WITH ev AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    ((user_id % 2) * 300 + (user_id * 37 + 11) % 700) / 1024.0
          |      AS s,
          |    CAST(user_id % 2 AS DOUBLE) AS y
          |  FROM events),
          |b AS (
          |  SELECT w, LEAST(CAST(FLOOR(s * 8) AS INT), 7) AS bin,
          |    sum(y) AS np, sum(1.0 - y) AS nn, sum(s) AS ssum
          |  FROM ev GROUP BY 1, 2),
          |c AS (
          |  SELECT *, COALESCE(SUM(nn) OVER (PARTITION BY w ORDER BY bin
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
          |    AS cum_nn
          |  FROM b)
          |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(sum(np) + sum(nn) AS BIGINT) AS n,
          |  COALESCE(round(CASE WHEN sum(np) > 0 AND sum(nn) > 0
          |    THEN sum(np * (cum_nn + nn / 2)) / (sum(np) * sum(nn))
          |    END, 9), -1.0) AS auc,
          |  round(sum(abs(ssum - np)) / (sum(np) + sum(nn)), 9) AS ece
          |FROM c GROUP BY w ORDER BY window_start""".stripMargin,

      "q_drift" ->
        """WITH c AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |         event_type AS t, CAST(count(*) AS DOUBLE) AS c
          |  FROM events GROUP BY 1, 2),
          |tot AS (SELECT w, sum(c) AS n FROM c GROUP BY 1),
          |p AS (SELECT c.w, c.t, c.c / tot.n AS p, tot.n AS n
          |      FROM c JOIN tot USING (w)),
          |cur AS (SELECT w AS k, t, p AS pc, n AS nc FROM p),
          |prv AS (SELECT w + INTERVAL 1 HOUR AS k, t, p AS pp FROM p),
          |ks AS (SELECT DISTINCT cur.k FROM cur
          |       JOIN (SELECT DISTINCT k FROM prv) q ON q.k = cur.k),
          |j AS (
          |  SELECT coalesce(cur.k, prv.k) AS k,
          |    coalesce(cur.pc, 0) AS pc, coalesce(prv.pp, 0) AS pp, cur.nc
          |  FROM cur FULL JOIN prv ON cur.k = prv.k AND cur.t = prv.t)
          |SELECT strftime(k, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(max(nc) AS BIGINT) AS n_events,
          |  round(sum(
          |    CASE WHEN pc > 0
          |         THEN pc * ln(pc / ((pc + pp) / 2)) * 0.5 ELSE 0 END +
          |    CASE WHEN pp > 0
          |         THEN pp * ln(pp / ((pc + pp) / 2)) * 0.5 ELSE 0 END), 9)
          |    AS js_drift
          |FROM j JOIN ks USING (k)
          |GROUP BY k ORDER BY 1""".stripMargin,

      "q_mad_outliers" ->
        """WITH x AS (
          |  SELECT event_type AS grp, value AS x FROM events
          |  WHERE value IS NOT NULL),
          |med AS (SELECT grp, median(x) AS m FROM x GROUP BY 1),
          |dev AS (SELECT x.grp, abs(x.x - med.m) AS dev, med.m AS m
          |        FROM x JOIN med USING (grp)),
          |mad AS (SELECT grp, median(dev) AS md FROM dev GROUP BY 1)
          |SELECT dev.grp AS event_type, CAST(count(*) AS BIGINT) AS n,
          |  round(max(dev.m), 9) AS median, round(max(mad.md), 9) AS mad,
          |  CAST(sum(CASE WHEN dev.dev > 2.0 * 1.4826 * mad.md
          |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
          |FROM dev JOIN mad USING (grp)
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_stream_sliding" ->
        """WITH starts AS (
          |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws FROM events
          |  UNION ALL
          |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR FROM events
          |)
          |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
          |       user_id, CAST(count(*) AS BIGINT) AS n
          |FROM starts GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "q_stream_session" ->
        """WITH g AS (
          |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
          |         THEN 1 ELSE 0 END AS new_sess
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
          |), s AS (
          |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
          |    ROWS UNBOUNDED PRECEDING) AS sess_id FROM g
          |)
          |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
          |  user_id, CAST(count(*) AS BIGINT) AS n_events,
          |  round(sum(value), 4) AS total
          |FROM s GROUP BY user_id, sess_id ORDER BY user_id, 1""".stripMargin,

      "q_sessionize" ->
        """WITH g AS (
          |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
          |         THEN 1 ELSE 0 END AS new_sess
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
          |), s AS (
          |  SELECT user_id, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
          |    ROWS UNBOUNDED PRECEDING) AS sess_id FROM g
          |), c AS (
          |  SELECT user_id, sess_id, count(*) AS n FROM s GROUP BY 1, 2
          |)
          |SELECT user_id, CAST(max(sess_id) AS BIGINT) AS n_sessions,
          |       CAST(max(n) AS BIGINT) AS longest
          |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_stream_join" ->
        """SELECT l.user_id, CAST(count(*) AS BIGINT) AS n_pairs,
          |  round(sum(r.value), 4) AS total_value
          |FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS l_ts FROM events
          |      WHERE event_type = 'click') l
          |JOIN (SELECT user_id AS r_user, CAST(ts AS TIMESTAMP) AS r_ts, value
          |      FROM events WHERE event_type = 'purchase') r
          |  ON l.user_id = r.r_user AND r.r_ts >= l.l_ts
          |     AND r.r_ts <= l.l_ts + INTERVAL 1 HOUR
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_stream_neardup" ->
        checksOracle("pairs_nonempty", "matches_batch_exactly"),

      "q_dedup_exact" ->
        """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
          |       CAST(count(*) AS BIGINT) AS n_copies
          |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,

      "q_dedup_ngram" ->
        """WITH sh AS (
          |  SELECT doc_id, lang,
          |    list_distinct([array_to_string(toks[i:i+2], ' ')
          |                   FOR i IN range(1, len(toks) - 1)]) AS s
          |  FROM (SELECT doc_id, lang,
          |          string_split_regex(trim(lower(text)), '\s+') AS toks
          |        FROM documents)
          |)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          |    / (CAST(len(a.s) + len(b.s) AS DOUBLE)
          |       - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)), 6) AS jaccard
          |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
          |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          |    / (CAST(len(a.s) + len(b.s) AS DOUBLE)
          |       - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)) >= 0.5
          |  AND len(a.s) + len(b.s) > 0
          |ORDER BY 1, 2""".stripMargin,

      "q_fuzzy_pairs" ->
        """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
          |       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
          |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
          |WHERE levenshtein(a.c_name, b.c_name) <= 1
          |ORDER BY 1, 2""".stripMargin,

      "q_fuzzy_pairs_d2" ->
        """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
          |       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
          |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
          |WHERE levenshtein(a.c_name, b.c_name) <= 2
          |ORDER BY 1, 2""".stripMargin,

      "q_fuzzy_match" ->
        """SELECT p.c_custkey AS probe_id, r.c_custkey AS ref_id,
          |       CAST(levenshtein(p.c_name, r.c_name) AS INTEGER) AS dist
          |FROM customer p JOIN customer r
          |  ON levenshtein(p.c_name, r.c_name) <= 1
          |WHERE p.c_custkey < 50
          |ORDER BY 1, 2""".stripMargin,

      "q_fuzzy_damerau" ->
        """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
          |       CAST(damerau_levenshtein(a.c_name, b.c_name) AS INTEGER)
          |         AS dist
          |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
          |WHERE damerau_levenshtein(a.c_name, b.c_name) <= 1
          |ORDER BY 1, 2""".stripMargin,

      "q_fuzzy_snm" ->
        """WITH r AS (
          |  SELECT c_custkey AS id, c_name AS s,
          |    row_number() OVER (ORDER BY c_name, c_custkey) AS pos
          |  FROM customer
          |)
          |SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b,
          |       CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
          |FROM r a JOIN r b ON b.pos - a.pos BETWEEN 1 AND 7
          |WHERE levenshtein(a.s, b.s) <= 2
          |ORDER BY 1, 2""".stripMargin,

      "q_fuzzy_match_index" ->
        """SELECT p.c_custkey AS probe_id, r.c_custkey AS ref_id,
          |       CAST(levenshtein(p.c_name, r.c_name) AS INTEGER) AS dist
          |FROM customer p JOIN customer r
          |  ON levenshtein(p.c_name, r.c_name) <= 1
          |WHERE p.c_custkey < 50
          |ORDER BY 1, 2""".stripMargin,

      "q_fuzzy_jw" ->
        """WITH r AS (
          |  SELECT c_custkey AS id, c_name AS s,
          |    row_number() OVER (ORDER BY c_name, c_custkey) AS pos
          |  FROM customer
          |)
          |SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b,
          |       round(jaro_winkler_similarity(a.s, b.s), 6) AS jw
          |FROM r a JOIN r b ON b.pos - a.pos BETWEEN 1 AND 7
          |WHERE jaro_winkler_similarity(a.s, b.s) >= 0.9
          |ORDER BY 1, 2""".stripMargin,

      "q_fuzzy_clusters" ->
        """WITH RECURSIVE prs AS (
          |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
          |  FROM customer a JOIN customer b
          |    ON a.c_mktsegment = b.c_mktsegment
          |   AND a.c_custkey < b.c_custkey
          |  WHERE levenshtein(a.c_name, b.c_name) <= 1
          |),
          |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
          |          UNION ALL SELECT id_b, id_a FROM prs),
          |reach AS (
          |  SELECT src, dst FROM edges
          |  UNION
          |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
          |)
          |SELECT src AS c_custkey, least(src, min(dst)) AS rep
          |FROM reach GROUP BY src ORDER BY 1""".stripMargin,

      "q_dedup_substring" ->
        """WITH toks AS (
          |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
          |  FROM documents
          |), g AS (
          |  SELECT doc_id,
          |    unnest(list_distinct([array_to_string(t[i:i+4], ' ')
          |                          FOR i IN range(1, len(t) - 3)])) AS h
          |  FROM toks
          |), perdoc AS (
          |  SELECT doc_id, count(*) AS n_spans FROM g GROUP BY doc_id
          |), dup AS (
          |  SELECT h FROM g GROUP BY h HAVING count(*) >= 2
          |), dupdoc AS (
          |  SELECT g.doc_id, count(*) AS dup_spans
          |  FROM g JOIN dup USING (h) GROUP BY g.doc_id
          |)
          |SELECT d.doc_id,
          |  coalesce(p.n_spans, 0) AS n_spans,
          |  coalesce(dd.dup_spans, 0) AS dup_spans,
          |  round(CAST(coalesce(dd.dup_spans, 0) AS DOUBLE)
          |    / greatest(CAST(coalesce(p.n_spans, 0) AS DOUBLE), 1), 6) AS dup_frac
          |FROM documents d
          |LEFT JOIN perdoc p USING (doc_id)
          |LEFT JOIN dupdoc dd USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,

      "q_dedup_rewrite" ->
        """WITH toks AS (
          |  SELECT doc_id, tok, i FROM (
          |    SELECT doc_id,
          |      unnest(string_split_regex(trim(text), '\s+')) AS tok,
          |      unnest(range(0, len(string_split_regex(trim(text), '\s+')))) AS i
          |    FROM documents)
          |  WHERE len(tok) > 0
          |), segs AS (
          |  SELECT doc_id, i // 10 AS ci, string_agg(tok, ' ' ORDER BY i) AS seg
          |  FROM toks GROUP BY 1, 2
          |), dup AS (
          |  SELECT seg FROM segs GROUP BY seg HAVING count(*) >= 2
          |), kept AS (
          |  SELECT s.doc_id, s.ci, s.seg FROM segs s ANTI JOIN dup USING (seg)
          |), agg AS (
          |  SELECT doc_id, string_agg(seg, ' ' ORDER BY ci) AS clean_text,
          |         count(*) AS nkept
          |  FROM kept GROUP BY doc_id
          |), cnt AS (
          |  SELECT doc_id, count(*) AS n_segments FROM segs GROUP BY doc_id
          |)
          |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
          |  coalesce(c.n_segments, 0) AS n_segments,
          |  coalesce(c.n_segments, 0) - coalesce(a.nkept, 0) AS n_dropped
          |FROM documents d
          |LEFT JOIN cnt c USING (doc_id)
          |LEFT JOIN agg a USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,

      "q_dsir" ->
        """WITH rawb AS (
          |  SELECT doc_id,
          |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS b
          |  FROM (SELECT doc_id,
          |          unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
          |        FROM documents)
          |  WHERE len(tok) > 0
          |), tgtb AS (
          |  SELECT ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS b
          |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
          |        FROM documents WHERE lang = 'en')
          |  WHERE len(tok) > 0
          |), crt AS (SELECT b, count(*) AS crn FROM rawb GROUP BY b),
          |ctt AS (SELECT b, count(*) AS ctn FROM tgtb GROUP BY b),
          |model AS (
          |  SELECT coalesce(crt.b, ctt.b) AS b,
          |         coalesce(crn, 0) AS crn, coalesce(ctn, 0) AS ctn
          |  FROM crt FULL JOIN ctt ON crt.b = ctt.b
          |), tot AS (SELECT sum(crn) AS tr, sum(ctn) AS tt FROM model),
          |lr AS (
          |  SELECT b, ln((ctn + 1.0) / (tt + 256.0))
          |           - ln((crn + 1.0) / (tr + 256.0)) AS lr
          |  FROM model, tot
          |)
          |, scored AS (
          |  SELECT r.doc_id, round(sum(lr.lr), 6) AS w, count(*) AS n
          |  FROM rawb r JOIN lr ON r.b = lr.b GROUP BY r.doc_id
          |)
          |SELECT d.doc_id, coalesce(s.w, 0.0) AS dsir_weight,
          |       coalesce(s.n, 0) AS n_tokens
          |FROM documents d LEFT JOIN scored s USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,

      "q_dedup_clusters" ->
        """WITH RECURSIVE sh AS (
          |  SELECT doc_id, lang,
          |    list_distinct([array_to_string(toks[i:i+2], ' ')
          |                   FOR i IN range(1, len(toks) - 1)]) AS s
          |  FROM (SELECT doc_id, lang,
          |          string_split_regex(trim(lower(text)), '\s+') AS toks
          |        FROM documents)
          |),
          |prs AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
          |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          |      / (CAST(len(a.s) + len(b.s) AS DOUBLE)
          |         - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)) >= 0.5
          |    AND len(a.s) + len(b.s) > 0
          |),
          |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
          |          UNION ALL SELECT id_b, id_a FROM prs),
          |reach AS (
          |  SELECT src, dst FROM edges
          |  UNION
          |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
          |)
          |SELECT src AS doc_id, least(src, min(dst)) AS rep
          |FROM reach GROUP BY src ORDER BY 1""".stripMargin,

      "q_dedup_keep" ->
        """WITH RECURSIVE sh AS (
          |  SELECT doc_id, lang,
          |    list_distinct([array_to_string(toks[i:i+2], ' ')
          |                   FOR i IN range(1, len(toks) - 1)]) AS s
          |  FROM (SELECT doc_id, lang,
          |          string_split_regex(trim(lower(text)), '\s+') AS toks
          |        FROM documents)
          |),
          |prs AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
          |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          |      / (CAST(len(a.s) + len(b.s) AS DOUBLE)
          |         - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)) >= 0.5
          |    AND len(a.s) + len(b.s) > 0
          |),
          |edges AS (SELECT id_a AS src, id_b AS dst FROM prs
          |          UNION ALL SELECT id_b, id_a FROM prs),
          |reach AS (
          |  SELECT src, dst FROM edges
          |  UNION
          |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
          |),
          |comp AS (SELECT src AS doc_id FROM reach GROUP BY src),
          |winners AS (
          |  SELECT doc_id FROM (
          |    SELECT d.doc_id,
          |      row_number() OVER (PARTITION BY least(r.src, min_dst)
          |                         ORDER BY length(d.text) DESC, d.doc_id) AS rk
          |    FROM (SELECT src, least(src, min(dst)) AS min_dst
          |          FROM reach GROUP BY src) r(src, min_dst)
          |    JOIN documents d ON d.doc_id = r.src)
          |  WHERE rk = 1
          |)
          |SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS text_len
          |FROM documents
          |WHERE doc_id IN (SELECT doc_id FROM winners)
          |   OR doc_id NOT IN (SELECT doc_id FROM comp)
          |ORDER BY doc_id""".stripMargin,

      // Derived-check constants: the engine side must PROVE each named
      // property (see the matching `queries` entries) to hash-match these.
      "q_dedup_minhash" ->
        checksOracle("pairs_nonempty", "precision_exact", "recall_floor"),

      "q_dedup_simhash" ->
        checksOracle("pairs_nonempty", "no_false_pairs", "complete_vs_allpairs"),

      "q_dedup_embed_lsh" ->
        checksOracle("pairs_nonempty", "precision_exact", "recall_floor"),

      "q_cluster" ->
        checksOracle("assign_matches_bruteforce", "deterministic",
          "cells_in_range", "covers_corpus", "multiple_cells"),

      "q_agg_approx" ->
        """SELECT l_returnflag, true AS within_tol
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_ann_ivf" ->
        """SELECT DISTINCT CAST(vec_id AS BIGINT) AS query_id, true AS recall_ok
          |FROM embeddings WHERE vec_id < 8 ORDER BY 1""".stripMargin,

      "q_ann_matryoshka" ->
        """SELECT DISTINCT CAST(vec_id AS BIGINT) AS query_id, true AS recall_ok
          |FROM embeddings WHERE vec_id < 8 ORDER BY 1""".stripMargin,

      "q_ann_matryoshka_index" ->
        """SELECT DISTINCT CAST(vec_id AS BIGINT) AS query_id, true AS recall_ok
          |FROM embeddings WHERE vec_id < 8 ORDER BY 1""".stripMargin,

      "q_ann_bq" ->
        """SELECT DISTINCT CAST(vec_id AS BIGINT) AS query_id, true AS recall_ok
          |FROM embeddings WHERE vec_id < 8 ORDER BY 1""".stripMargin,

      "q_ann_bq_index" ->
        """SELECT DISTINCT CAST(vec_id AS BIGINT) AS query_id, true AS recall_ok
          |FROM embeddings WHERE vec_id < 8 ORDER BY 1""".stripMargin,

      "q_ann_mmr" ->
        checksOracle("k_rows_per_query", "subset_of_candidates",
          "first_pick_is_max_relevance", "lambda1_equals_topk"),

      "q_embed_align" ->
        checksOracle("rotation_orthogonal", "residual_tiny",
          "beats_unaligned"),

      "q_topic_tree" ->
        checksOracle("k_minus_1_merges", "root_covers_all_cells",
          "merge_dists_nondecreasing", "names_are_min_member_cells",
          "dists_in_cosine_range"),

      "q_maxsim" ->
        """WITH toks AS (
          |  SELECT doc_id,
          |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
          |      t -> len(t) > 0)[1:4] AS ts
          |  FROM documents),
          |emb AS (
          |  SELECT doc_id,
          |    list_transform(ts, t ->
          |      list_transform(range(0, 8), j ->
          |        sin(ascii(t) * 31 + length(t) * 7 + j))) AS e
          |  FROM toks)
          |SELECT q.doc_id AS qid, d.doc_id AS did,
          |  round(coalesce(list_sum(list_transform(q.e, qe ->
          |    coalesce(list_max(list_transform(d.e, de ->
          |      list_dot_product(qe, de) /
          |        (sqrt(list_dot_product(qe, qe)) *
          |         sqrt(list_dot_product(de, de))))), 0.0))), 0.0), 6)
          |    AS maxsim
          |FROM emb q, emb d
          |WHERE q.doc_id < 3 AND d.doc_id < 20
          |ORDER BY 1, 2""".stripMargin,

      // per-dim mean thresholds over the full corpus, then count the
      // dims where the two vectors' sign bits disagree — the packing is
      // engine-side only; the SQL checks the same bit semantics
      "q_embed_bq_hamming" ->
        """WITH x AS (
          |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS v,
          |         unnest(range(len(embedding))) AS pos
          |  FROM embeddings),
          |mu AS (SELECT pos, round(avg(v), 9) AS mu FROM x GROUP BY pos),
          |b AS (
          |  SELECT x.vec_id, x.pos, (x.v > mu.mu) AS bit
          |  FROM x JOIN mu USING (pos) WHERE x.vec_id < 10)
          |SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
          |  CAST(sum(CASE WHEN a.bit <> b2.bit THEN 1 ELSE 0 END) AS BIGINT)
          |    AS hamming
          |FROM b a JOIN b b2 ON a.pos = b2.pos AND a.vec_id < b2.vec_id
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // slice -> renormalize -> cosine, replayed on DuckDB double lists
      "q_embed_truncate" ->
        """WITH e AS (
          |  SELECT vec_id, (embedding::DOUBLE[])[1:16] AS s
          |  FROM embeddings WHERE vec_id < 10),
          |t AS (
          |  SELECT vec_id,
          |    CASE WHEN list_dot_product(s, s) > 0
          |         THEN list_transform(s,
          |                x -> x / sqrt(list_dot_product(s, s)))
          |         ELSE s END AS v
          |  FROM e)
          |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |  round(list_dot_product(a.v, b.v)
          |    / (sqrt(list_dot_product(a.v, a.v))
          |       * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
          |FROM t a JOIN t b ON a.vec_id < b.vec_id
          |ORDER BY 1, 2""".stripMargin,

      "q_ann_ivf_index" ->
        """SELECT DISTINCT CAST(vec_id AS BIGINT) AS query_id, true AS recall_ok
          |FROM embeddings WHERE vec_id < 8 ORDER BY 1""".stripMargin,

      "q_ann_pq" ->
        """SELECT DISTINCT CAST(vec_id AS BIGINT) AS query_id, true AS recall_ok
          |FROM embeddings WHERE vec_id < 8 ORDER BY 1""".stripMargin,

      "q_ann_sq8" ->
        """SELECT DISTINCT CAST(vec_id AS BIGINT) AS query_id, true AS recall_ok
          |FROM embeddings WHERE vec_id < 8 ORDER BY 1""".stripMargin,

      "q_ann_pcapq" ->
        """SELECT DISTINCT CAST(vec_id AS BIGINT) AS query_id, true AS recall_ok
          |FROM embeddings WHERE vec_id < 8 ORDER BY 1""".stripMargin,

      "q_ann_pcapq_index" ->
        """SELECT DISTINCT CAST(vec_id AS BIGINT) AS query_id, true AS recall_ok
          |FROM embeddings WHERE vec_id < 8 ORDER BY 1""".stripMargin,

      "q_ann_ivfpq" ->
        """SELECT DISTINCT CAST(vec_id AS BIGINT) AS query_id, true AS recall_ok
          |FROM embeddings WHERE vec_id < 8 ORDER BY 1""".stripMargin,

      "q_ann_lsh" ->
        checksOracle("results_nonempty", "mean_recall_floor"),

      "q_dedup_embed" ->
        """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
          |           FROM embeddings)
          |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |  round(list_dot_product(a.v, b.v)
          |    / (sqrt(list_dot_product(a.v, a.v))
          |       * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
          |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
          |WHERE list_dot_product(a.v, b.v)
          |    / (sqrt(list_dot_product(a.v, a.v))
          |       * sqrt(list_dot_product(b.v, b.v))) >= 0.4
          |ORDER BY 1, 2""".stripMargin,

      "q_ann_topk" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |     q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
          |     sc AS (
          |  SELECT q.query_id, e.vec_id AS neighbor_id,
          |    list_dot_product(qv, v)
          |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
          |      AS cos
          |  FROM e CROSS JOIN q WHERE e.vec_id != q.query_id
          |), r AS (
          |  SELECT query_id, neighbor_id, cos,
          |    row_number() OVER (PARTITION BY query_id
          |                       ORDER BY cos DESC, neighbor_id) AS rank
          |  FROM sc
          |)
          |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
          |       round(cos, 6) AS cosine
          |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

      "q_ann_negatives" ->
        """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
          |           FROM embeddings),
          |     q AS (SELECT vec_id AS query_id, label AS ql, v AS qv
          |           FROM e WHERE vec_id < 8),
          |     sc AS (
          |  SELECT q.query_id, e.vec_id AS neighbor_id,
          |    list_dot_product(qv, v)
          |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
          |      AS cos
          |  FROM e CROSS JOIN q WHERE e.label != q.ql
          |), r AS (
          |  SELECT query_id, neighbor_id, cos,
          |    row_number() OVER (PARTITION BY query_id
          |                       ORDER BY cos DESC, neighbor_id) AS rank
          |  FROM sc
          |)
          |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
          |       round(cos, 6) AS cosine
          |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

      // full-rank PCA preserves centered norms: the oracle recomputes
      // per-row ||x - mean||^2 from the raw data, never seeing the basis
      "q_pca" ->
        """WITH u AS (
          |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
          |         unnest(range(len(embedding))) AS i
          |  FROM embeddings
          |), m AS (SELECT i, avg(x) AS mu FROM u GROUP BY i)
          |SELECT u.vec_id, round(sum((u.x - m.mu) * (u.x - m.mu)), 6) AS cnorm2
          |FROM u JOIN m ON u.i = m.i
          |GROUP BY u.vec_id ORDER BY u.vec_id""".stripMargin,

      // whitening contract: unit population variance per kept component —
      // the oracle states the literal the engine must land on exactly
      "q_pca_whiten" ->
        """SELECT CAST(i AS INTEGER) AS component, CAST(1.0 AS DOUBLE) AS var_w
          |FROM (SELECT unnest(range((SELECT max(len(embedding))
          |                           FROM embeddings))) AS i)
          |ORDER BY component""".stripMargin,

      "q_text_langid" -> {
        val langs = TextAnalysis.stopwords.keys.toSeq.sorted
        def arr(l: String) =
          TextAnalysis.stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")
        val scores = langs.map(l =>
          s"len(list_intersect(toks, ${arr(l)})) AS s_$l").mkString(",\n    ")
        val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
        val pick = langs.map(l => s"WHEN s_$l = __best THEN '$l'")
          .mkString("CASE WHEN __best = 0 THEN 'und' ", " ", " END")
        s"""WITH t AS (
           |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
           |  FROM documents
           |), sc AS (
           |  SELECT doc_id,
           |    $scores
           |  FROM t
           |), b AS (
           |  SELECT *, $best AS __best FROM sc
           |)
           |SELECT doc_id, $pick AS pred_lang FROM b ORDER BY doc_id""".stripMargin
      },

      "q_text_quality" ->
        """WITH base AS (
          |  SELECT doc_id, text,
          |    string_split_regex(trim(lower(text)), '\s+') AS toks,
          |    CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS nt
          |  FROM documents
          |), m AS (
          |  SELECT doc_id, nt,
          |    CASE WHEN length(text) = 0 THEN 0.0
          |         ELSE CAST(length(regexp_replace(text,
          |                '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE)
          |              / CAST(length(text) AS DOUBLE) END AS pr,
          |    CASE WHEN length(text) = 0 THEN 0.0
          |         ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
          |                AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS dr,
          |    CASE WHEN nt = 0 THEN 0.0
          |         ELSE CAST(len(list_intersect(toks,
          |                ['the','a','and','of','to','in','is','that','it','for']))
          |                AS DOUBLE) / CAST(nt AS DOUBLE) END AS sr,
          |    CASE WHEN nt = 0 THEN 0.0
          |         ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
          |              / CAST(nt AS DOUBLE) END AS mwl
          |  FROM base
          |)
          |SELECT doc_id, CAST(nt AS INTEGER) AS n_tokens,
          |  round(pr, 6) AS punct_ratio, round(dr, 6) AS digit_ratio,
          |  round(sr, 6) AS stopword_ratio, round(mwl, 6) AS mean_word_len,
          |  round(greatest(0.0, least(1.0,
          |    least(CAST(nt AS DOUBLE) / 50.0, 1.0) * 0.3
          |    + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
          |    + least(sr * 4.0, 1.0) * 0.4
          |    - (pr + dr))), 6) AS quality
          |FROM m ORDER BY doc_id""".stripMargin,

      "q_text_tokens" ->
        """SELECT doc_id,
          |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |       ELSE len(string_split_regex(trim(lower(text)), '\s+')) END
          |    AS INTEGER) AS n_tokens,
          |  CAST(len(regexp_extract_all(text,
          |       '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q_corpus_report" ->
        """WITH t AS (
          |  SELECT source, lang, text,
          |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(string_split_regex(trim(lower(text)), '\s+')) END
          |      AS INTEGER) AS nt
          |  FROM documents
          |)
          |SELECT source, lang,
          |  CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
          |  CAST(sum(nt) AS BIGINT) AS n_tokens,
          |  round(avg(nt), 4) AS avg_tokens,
          |  min(nt) AS min_tokens,
          |  max(nt) AS max_tokens,
          |  CAST(sum(length(text)) AS BIGINT) AS n_chars
          |FROM t GROUP BY source, lang ORDER BY source, lang""".stripMargin,

      "q_text_fingerprint" ->
        """SELECT doc_id,
          |  list_reduce(
          |    list_prepend(CAST(0 AS BIGINT),
          |      [CAST(unicode(text[i]) AS BIGINT) FOR i IN range(1, length(text) + 1)]),
          |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
          |FROM documents
          |WHERE regexp_matches(text, '^[ -~]*$')
          |ORDER BY doc_id""".stripMargin,

      "q_text_repetition" ->
        """WITH t AS (
          |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
          |  FROM documents
          |), g AS (
          |  SELECT doc_id, toks,
          |    [array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))] AS g2,
          |    [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks)-1)] AS g3
          |  FROM t
          |)
          |SELECT doc_id,
          |  round(CAST((SELECT max(c) FROM (SELECT count(*) AS c
          |      FROM unnest(toks) AS u(w) GROUP BY w)) AS DOUBLE)
          |    / len(toks), 6) AS top_word_frac,
          |  round(CASE WHEN len(g2) = 0 THEN 0.0
          |    ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) END,
          |    6) AS dup_bigram_frac,
          |  round(CASE WHEN len(g2) = 0 THEN 0.0
          |    ELSE CAST((SELECT max(c) FROM (SELECT count(*) AS c
          |        FROM unnest(g2) AS u(w) GROUP BY w)) AS DOUBLE) / len(g2) END,
          |    6) AS top_bigram_frac,
          |  round(CASE WHEN len(g3) = 0 THEN 0.0
          |    ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) END,
          |    6) AS dup_trigram_frac
          |FROM g ORDER BY doc_id""".stripMargin,

      "q_text_filter" ->
        """WITH base AS (
          |  SELECT doc_id, text,
          |    string_split_regex(trim(lower(text)), '\s+') AS toks,
          |    CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS nt
          |  FROM documents
          |), g AS (
          |  SELECT doc_id, text, toks, nt,
          |    [array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))] AS g2,
          |    [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks)-1)] AS g3
          |  FROM base
          |), m AS (
          |  SELECT doc_id, nt,
          |    CAST((SELECT max(c) FROM (SELECT count(*) AS c
          |        FROM unnest(toks) AS u(w) GROUP BY w)) AS DOUBLE)
          |      / len(toks) AS topw,
          |    CASE WHEN len(g2) = 0 THEN 0.0
          |      ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) END AS dup2,
          |    CASE WHEN len(g3) = 0 THEN 0.0
          |      ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) END AS dup3,
          |    CASE WHEN length(text) = 0 THEN 0.0
          |         ELSE CAST(length(regexp_replace(text,
          |                '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE)
          |              / CAST(length(text) AS DOUBLE) END AS pr,
          |    CASE WHEN length(text) = 0 THEN 0.0
          |         ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
          |                AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS dr,
          |    CASE WHEN nt = 0 THEN 0.0
          |         ELSE CAST(len(list_intersect(toks,
          |                ['the','a','and','of','to','in','is','that','it','for']))
          |                AS DOUBLE) / CAST(nt AS DOUBLE) END AS sr,
          |    CASE WHEN nt = 0 THEN 0.0
          |         ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
          |              / CAST(nt AS DOUBLE) END AS mwl
          |  FROM g
          |), q AS (
          |  SELECT doc_id, nt, topw, dup2, dup3,
          |    round(greatest(0.0, least(1.0,
          |      least(CAST(nt AS DOUBLE) / 50.0, 1.0) * 0.3
          |      + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
          |      + least(sr * 4.0, 1.0) * 0.4
          |      - (pr + dr))), 6) AS quality
          |  FROM m
          |)
          |SELECT doc_id,
          |  CASE WHEN nt < 15 THEN 'too_short'
          |       WHEN topw > 0.15 THEN 'top_word_frac'
          |       WHEN dup2 > 0.08 THEN 'dup_bigram_frac'
          |       WHEN dup3 > 0.03 THEN 'dup_trigram_frac'
          |       WHEN quality < 0.3 THEN 'low_quality'
          |       ELSE 'keep' END AS reason
          |FROM q ORDER BY doc_id""".stripMargin,

      "q_text_pii" -> {
        // DuckDB string literals keep backslashes verbatim — interpolate the
        // Java-side patterns unescaped (the regex subset is RE2-compatible)
        val redacted = TextAnalysis.piiPatterns.foldLeft("aug") {
          case (t, (_, re, token)) =>
            s"regexp_replace($t, '$re', '$token', 'g')"
        }
        // counts run on the progressively-redacted text, like the engine
        val (countSelects, _) =
          TextAnalysis.piiPatterns.foldLeft((Seq.empty[String], "aug")) {
            case ((acc, t), (name, re, token)) =>
              (acc :+ s"CAST(len(regexp_extract_all($t, '$re')) AS INTEGER) AS n_$name",
                s"regexp_replace($t, '$re', '$token', 'g')")
          }
        s"""WITH a AS (
           |  SELECT doc_id,
           |    text || ' contact u' || CAST(doc_id AS VARCHAR)
           |      || '@mail.example.org'
           |      || ' tel 555-210-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           |      || ' host 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
           |      || ' ssn 987-65-4321' AS aug
           |  FROM documents
           |)
           |SELECT doc_id, md5($redacted) AS redacted_md5,
           |  ${countSelects.mkString(",\n  ")}
           |FROM a ORDER BY doc_id""".stripMargin
      },

      "q_sample_stratified" ->
        s"""SELECT doc_id, lang FROM documents
           |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
           |  CASE WHEN lang = 'en' THEN '${Sampling.thresholdHex(0.3)}'
           |       WHEN lang = 'zh' THEN '${Sampling.thresholdHex(0.1)}'
           |       ELSE '${Sampling.thresholdHex(0.5)}' END
           |ORDER BY doc_id""".stripMargin,

      "q_sample_weighted" ->
        """WITH d AS (
          |  SELECT doc_id, n_chars,
          |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          |      + 1.0) / 4294967296.0 AS u
          |  FROM documents
          |)
          |SELECT doc_id, n_chars, round(-ln(u) / n_chars, 9) AS es_key
          |FROM d
          |ORDER BY -ln(u) / n_chars, doc_id
          |LIMIT 60""".stripMargin,

      "q_shard" ->
        """SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(min(doc_id) AS BIGINT) AS min_id,
          |  CAST(max(doc_id) AS BIGINT) AS max_id
          |FROM (SELECT doc_id,
          |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
          |          AS BIGINT) % 16 AS shard
          |      FROM documents)
          |GROUP BY shard ORDER BY shard""".stripMargin,

      "q_select_budget" ->
        """WITH t AS (
          |  SELECT doc_id, n_chars,
          |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(string_split_regex(trim(lower(text)), '\s+')) END
          |      AS BIGINT) AS n_tokens
          |  FROM documents
          |), c AS (
          |  SELECT doc_id, n_tokens,
          |    sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id) AS cum_tokens
          |  FROM t
          |)
          |SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
          |FROM c WHERE cum_tokens <= 15000 ORDER BY doc_id""".stripMargin,

      "q_zorder" -> {
        val terms = (for {
          j <- 0 until 16
          (c, i) <- Seq("l_partkey", "l_suppkey").zipWithIndex
        } yield s"(((CAST($c AS BIGINT) >> $j) & 1) << ${j * 2 + i})")
          .mkString(" + ")
        s"SELECT l_orderkey, l_linenumber, $terms AS zval " +
          "FROM lineitem ORDER BY 1, 2"
      },

      "q_shuffle" ->
        """SELECT doc_id,
          |  row_number() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)),
          |                     doc_id) - 1 AS shuffle_pos
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q_upsample" ->
        """WITH w AS (
          |  SELECT doc_id, lang,
          |    -- CAST: DuckDB numeric literals are DECIMAL; the fractional
          |    -- part must be computed in ieee double exactly like Spark
          |    CASE WHEN lang = 'en' THEN CAST(2.4 AS DOUBLE)
          |         WHEN lang = 'de' THEN CAST(0.5 AS DOUBLE)
          |         ELSE CAST(1.0 AS DOUBLE) END AS wt,
          |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
          |      AS BIGINT) / 4294967296.0 AS draw
          |  FROM documents
          |), n AS (
          |  SELECT doc_id, lang,
          |    CAST(floor(wt) + (CASE WHEN draw < wt - floor(wt)
          |                      THEN 1 ELSE 0 END) AS BIGINT) AS nc
          |  FROM w
          |)
          |SELECT doc_id, lang, CAST(e.epoch AS BIGINT) AS epoch
          |FROM n, LATERAL unnest(range(0, nc)) AS e(epoch)
          |WHERE nc > 0 ORDER BY doc_id, epoch""".stripMargin,

      "q_temperature" ->
        """WITH c AS (
          |  SELECT lang, CAST(count(*) AS DOUBLE) AS cnt FROM documents
          |  WHERE lang IS NOT NULL GROUP BY lang
          |), tot AS (SELECT sum(cnt) AS total FROM c),
          |s AS (
          |  -- alpha = 0.5: sqrt is correctly rounded in ieee754, so the
          |  -- share computation is bit-identical to the JVM's
          |  SELECT lang, cnt, sqrt(cnt / (SELECT total FROM tot)) AS pa FROM c
          |), zz AS (SELECT sum(pa) AS z FROM s),
          |wt AS (
          |  -- same op order as the engine: total * (pa / z) / cnt, then a
          |  -- half-up 6-decimal round makes the weight engine-stable
          |  SELECT lang, floor((SELECT total FROM tot) * (pa / (SELECT z FROM zz))
          |    / cnt * 1e6 + 0.5) / 1e6 AS wt
          |  FROM s
          |), w AS (
          |  SELECT d.doc_id, d.lang, wt.wt,
          |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
          |      AS BIGINT) / 4294967296.0 AS draw
          |  FROM documents d JOIN wt USING (lang)
          |), n AS (
          |  SELECT doc_id, lang,
          |    CAST(floor(wt) + (CASE WHEN draw < wt - floor(wt)
          |                      THEN 1 ELSE 0 END) AS BIGINT) AS nc
          |  FROM w
          |)
          |SELECT doc_id, lang, CAST(e.epoch AS BIGINT) AS epoch
          |FROM n, LATERAL unnest(range(0, nc)) AS e(epoch)
          |WHERE nc > 0 ORDER BY doc_id, epoch""".stripMargin,

      "q_mixture_weights" ->
        """WITH d AS (
          |  SELECT source,
          |    CAST((CAST(doc_id AS BIGINT) * 13) % 7 AS DOUBLE) AS lp,
          |    CAST((CAST(doc_id AS BIGINT) * 3) % 5 AS DOUBLE) AS lr
          |  FROM documents),
          |per AS (
          |  SELECT source AS grp, count(*) AS n_docs,
          |    sum(lp) AS sp, sum(lr) AS sr
          |  FROM d GROUP BY 1),
          |tot AS (SELECT sum(n_docs) AS nn FROM per),
          |sc AS (
          |  SELECT grp, n_docs, CAST(n_docs AS DOUBLE) / nn AS share,
          |    greatest(0.0, sp / n_docs - sr / n_docs) AS excess
          |  FROM per, tot),
          |s2 AS (SELECT *, share * exp(1.0 * excess) AS score FROM sc),
          |z AS (SELECT sum(score) AS z FROM s2)
          |SELECT grp AS source, CAST(n_docs AS BIGINT) AS n_docs,
          |  round(share, 9) AS share, round(excess, 9) AS excess_loss,
          |  round(score / z, 9) AS weight
          |FROM s2, z ORDER BY source""".stripMargin,

      "q_cap_stratum" ->
        """WITH r AS (
          |  SELECT doc_id, lang,
          |    row_number() OVER (PARTITION BY lang
          |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
          |      AS stratum_rank
          |  FROM documents
          |)
          |SELECT doc_id, lang, CAST(stratum_rank AS BIGINT) AS stratum_rank
          |FROM r WHERE stratum_rank <= 70 ORDER BY doc_id""".stripMargin,

      "q_script_profile" ->
        """WITH a AS (
          |  SELECT doc_id, text || ' Привет мир 世界 مرحبا 123' AS t
          |  FROM documents
          |), n AS (
          |  SELECT doc_id, t,
          |    CAST(length(regexp_replace(t, '\s+', '', 'g')) AS DOUBLE) AS tot
          |  FROM a
          |)
          |SELECT doc_id,
          |  round(CASE WHEN tot = 0 THEN 0 ELSE
          |    length(regexp_replace(t, '[^A-Za-z\x{C0}-\x{24F}]', '', 'g')) / tot
          |    END, 6) AS latin_frac,
          |  round(CASE WHEN tot = 0 THEN 0 ELSE
          |    length(regexp_replace(t, '[^\x{400}-\x{4FF}]', '', 'g')) / tot
          |    END, 6) AS cyrillic_frac,
          |  round(CASE WHEN tot = 0 THEN 0 ELSE
          |    length(regexp_replace(t,
          |      '[^\x{3040}-\x{30FF}\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}]',
          |      '', 'g')) / tot END, 6) AS cjk_frac,
          |  round(CASE WHEN tot = 0 THEN 0 ELSE
          |    length(regexp_replace(t, '[^\x{600}-\x{6FF}]', '', 'g')) / tot
          |    END, 6) AS arabic_frac,
          |  round(CASE WHEN tot = 0 THEN 0 ELSE
          |    length(regexp_replace(t, '[^0-9]', '', 'g')) / tot
          |    END, 6) AS digit_frac
          |FROM n ORDER BY doc_id""".stripMargin,

      "q_url_canonical" ->
        """WITH u AS (
          |  SELECT doc_id,
          |    'HTTPS://WWW.Example' || CAST(doc_id % 7 AS VARCHAR) ||
          |    '.COM:443/Articles/Item' || CAST(doc_id AS VARCHAR) ||
          |    '/?utm_source=news&utm_medium=email&id=' ||
          |    CAST(doc_id AS VARCHAR) ||
          |    '&fbclid=XyZ123&ref=tw&page=2#section-' ||
          |    CAST(doc_id AS VARCHAR) AS url
          |  FROM documents
          |), nf AS (
          |  SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS s FROM u
          |), lo AS (
          |  SELECT doc_id,
          |    CASE WHEN regexp_matches(s, '^[a-zA-Z][a-zA-Z0-9+.-]*://')
          |      THEN lower(regexp_extract(s,
          |             '^([a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?[^/?#]*)([^#]*)$', 1))
          |        || regexp_extract(s,
          |             '^([a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?[^/?#]*)([^#]*)$', 2)
          |      ELSE s END AS s
          |  FROM nf
          |), np AS (
          |  SELECT doc_id, regexp_replace(s,
          |    '^([a-z][a-z0-9+.-]*://[^/?#]*):(?:80|443)([/?]|$)', '\1\2') AS s
          |  FROM lo
          |), nt AS (
          |  SELECT doc_id, regexp_replace(s,
          |    '(?i)([?&])(?:utm_[^&=]*|gclid|fbclid|ref|mc_cid|mc_eid)=[^&#]*',
          |    '\1', 'g') AS s
          |  FROM np
          |)
          |SELECT doc_id,
          |  regexp_replace(
          |    regexp_replace(
          |      regexp_replace(regexp_replace(s, '&{2,}', '&', 'g'),
          |        '\?&', '?', 'g'),
          |      '[?&]+$', '', 'g'),
          |    '/+$', '', 'g') AS canonical_url
          |FROM nt ORDER BY doc_id""".stripMargin,

      "q_html_extract" ->
        """WITH page AS (
          |  SELECT doc_id,
          |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
          |    '</title><script type="text/javascript">var x = 1 < 2;</script>' ||
          |    '<style>p { color: red }</style></head><body><h1>Doc ' ||
          |    CAST(doc_id AS VARCHAR) || '</h1><p>' || text ||
          |    '</p><ul><li>Tom &amp; Jerry</li><li>a &lt; b</li></ul>' ||
          |    '<!-- hidden --><div>tail&nbsp;note</div></body></html>' AS h
          |  FROM documents
          |)
          |SELECT doc_id,
          |  regexp_replace(regexp_replace(
          |    regexp_replace(
          |      regexp_replace(
          |        replace(replace(replace(replace(replace(replace(replace(
          |          regexp_replace(
          |            regexp_replace(
          |              regexp_replace(
          |                regexp_replace(h,
          |                  '(?is)<(script|style)\b[^>]*>.*?</(script|style)\s*>',
          |                  ' ', 'g'),
          |                '(?s)<!--.*?-->', ' ', 'g'),
          |              '(?i)<(br|/p|/div|/li|/tr|/h[1-6]|/blockquote|/title)\b[^>]*>',
          |              e'\n', 'g'),
          |            '<[^>]*>', ' ', 'g'),
          |          '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
          |          '&quot;', '"'), '&#39;', ''''), '&apos;', ''''),
          |          '&amp;', '&'),
          |        e'[ \t]+', ' ', 'g'),
          |      e' ?\n ?', e'\n', 'g'),
          |    e'\n{3,}', e'\n\n', 'g'),
          |    '^\s+|\s+$', '', 'g') AS page_text
          |FROM page ORDER BY doc_id""".stripMargin,

      "q_interleave" ->
        """WITH r AS (
          |  SELECT doc_id, source,
          |    row_number() OVER (PARTITION BY source
          |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
          |      AS stratum_rank,
          |    count(*) OVER (PARTITION BY source) AS n_g
          |  FROM documents
          |)
          |SELECT doc_id, source, CAST(stratum_rank AS BIGINT) AS stratum_rank,
          |  CAST(row_number() OVER (
          |      ORDER BY (CAST(stratum_rank AS DOUBLE) - 0.5) / n_g,
          |               source, doc_id) - 1 AS BIGINT) AS interleave_pos
          |FROM r ORDER BY interleave_pos""".stripMargin,

      "q_vocab" ->
        """SELECT token, CAST(count(*) AS BIGINT) AS n
          |FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
          |      FROM documents)
          |WHERE len(token) > 0
          |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,

      "q_vocab_coverage" ->
        """WITH tok AS (
          |  SELECT source,
          |    list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\s+'),
          |      t -> len(t) > 0) AS ts
          |  FROM documents
          |), vocab AS (
          |  SELECT token FROM (SELECT unnest(ts) AS token FROM tok)
          |  GROUP BY token ORDER BY count(*) DESC, token LIMIT 50
          |), flat AS (SELECT source, unnest(ts) AS token FROM tok),
          |agg AS (
          |  SELECT f.source, CAST(count(*) AS BIGINT) AS n_tokens,
          |    CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_oov
          |  FROM flat f LEFT JOIN vocab v USING (token) GROUP BY 1
          |)
          |SELECT s.source, CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
          |  CAST(coalesce(n_oov, 0) AS BIGINT) AS n_oov,
          |  coalesce(round(n_oov / n_tokens::DOUBLE, 6), 0) AS oov_rate
          |FROM (SELECT DISTINCT source FROM documents) s LEFT JOIN agg USING (source)
          |ORDER BY source""".stripMargin,

      "q_length_batches" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    CAST(coalesce(CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(string_split_regex(trim(lower(text)), '\s+')) END, 0)
          |      AS BIGINT) AS nt
          |  FROM documents
          |), pos AS (
          |  SELECT nt, row_number() OVER (ORDER BY nt, doc_id) - 1 AS p FROM t
          |)
          |SELECT CAST(p // 32 AS BIGINT) AS batch_id,
          |  CAST(count(*) AS BIGINT) AS n_rows,
          |  max(nt) AS max_tokens,
          |  CAST(sum(nt) AS BIGINT) AS sum_tokens,
          |  CAST(count(*) * max(nt) - sum(nt) AS BIGINT) AS pad_waste
          |FROM pos GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_phrases" ->
        """SELECT CAST(count(*) AS BIGINT) AS n_docs,
          |       true AS restore_all, true AS merged_any
          |FROM documents""".stripMargin,

      "q_phrases_e2e" ->
        checksOracle("docs_nonempty", "restore_all",
          "matches_manual_composition", "merged_any", "vocab_mined"),

      "q_collocations" ->
        """WITH tok2 AS (
          |  SELECT [x FOR x IN string_split_regex(trim(lower(text)), '\s+')
          |          IF len(x) > 0] AS ts
          |  FROM documents
          |), bg AS (
          |  SELECT ts[i] AS w1, ts[i + 1] AS w2
          |  FROM (SELECT ts, unnest(range(1, len(ts))) AS i
          |        FROM tok2 WHERE len(ts) >= 2)
          |), bgc AS (
          |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12
          |  FROM bg GROUP BY 1, 2
          |), unic AS (
          |  SELECT w, CAST(count(*) AS DOUBLE) AS c
          |  FROM (SELECT unnest(ts) AS w FROM tok2) GROUP BY 1
          |), nu AS (SELECT sum(c) AS nu FROM unic)
          |SELECT w1, w2, n12,
          |  round(ln((n12 / nu) / ((c1.c / nu) * (c2.c / nu)))
          |        / (-ln(n12 / nu)), 6) AS npmi
          |FROM bgc
          |JOIN unic c1 ON c1.w = bgc.w1
          |JOIN unic c2 ON c2.w = bgc.w2
          |CROSS JOIN nu
          |WHERE n12 >= 2
          |ORDER BY npmi DESC, w1, w2 LIMIT 50""".stripMargin,

      "q_coverage_curve" ->
        """WITH freq AS (
          |  SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
          |    SELECT unnest([x FOR x IN string_split_regex(trim(lower(text)), '\s+')
          |                   IF len(x) > 0]) AS token
          |    FROM documents)
          |  GROUP BY token
          |), tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM freq),
          |ranked AS (
          |  SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rk FROM freq
          |)
          |SELECT k,
          |  CAST(coalesce((SELECT sum(n) FROM ranked WHERE rk <= k), 0) AS BIGINT)
          |    AS covered,
          |  (SELECT t FROM tot) AS total,
          |  round(coalesce((SELECT sum(n) FROM ranked WHERE rk <= k), 0)
          |        / (SELECT t FROM tot)::DOUBLE, 6) AS coverage
          |FROM (SELECT unnest([10, 100, 1000, 10000]) AS k)
          |ORDER BY k""".stripMargin,

      "q_cooccurrence" ->
        """WITH tok AS (
          |  SELECT [x FOR x IN string_split_regex(trim(lower(text)), '\s+')
          |          IF len(x) > 0] AS ts
          |  FROM documents
          |), pr AS (
          |  SELECT least(ts[i], ts[i + o]) AS w1,
          |         greatest(ts[i], ts[i + o]) AS w2
          |  FROM (SELECT ts, unnest(range(1, len(ts) + 1)) AS i
          |        FROM tok WHERE len(ts) >= 2)
          |  CROSS JOIN (SELECT unnest(range(1, 4)) AS o)
          |  WHERE i + o <= len(ts)
          |)
          |SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
          |FROM pr GROUP BY 1, 2 HAVING count(*) >= 2
          |ORDER BY n DESC, w1, w2 LIMIT 50""".stripMargin,

      // the q_cooccurrence pair CTE (self-pairs dropped) -> symmetric
      // weighted graph -> out-share normalization -> 10 power iterations
      // as a recursive CTE (the q_ppr pattern; symmetric graphs have no
      // dangling nodes, so the engine's dangling term is exactly 0)
      "q_textrank" ->
        """WITH RECURSIVE tok AS (
          |  SELECT [x FOR x IN string_split_regex(trim(lower(text)), '\s+')
          |          IF len(x) > 0] AS ts
          |  FROM documents
          |), pr0 AS (
          |  SELECT least(ts[i], ts[i + o]) AS w1,
          |         greatest(ts[i], ts[i + o]) AS w2
          |  FROM (SELECT ts, unnest(range(1, len(ts) + 1)) AS i
          |        FROM tok WHERE len(ts) >= 2)
          |  CROSS JOIN (SELECT unnest(range(1, 4)) AS o)
          |  WHERE i + o <= len(ts)
          |), pc AS (
          |  SELECT w1, w2, CAST(count(*) AS DOUBLE) AS n
          |  FROM pr0 WHERE w1 != w2 GROUP BY 1, 2 HAVING count(*) >= 2
          |), sym AS (
          |  SELECT w1 AS ws, w2 AS wd, n FROM pc
          |  UNION ALL
          |  SELECT w2, w1, n FROM pc
          |), wsum AS (SELECT ws, sum(n) AS t FROM sym GROUP BY 1),
          |sh AS (SELECT s.ws AS src, s.wd AS dst, s.n / w.t AS share
          |       FROM sym s JOIN wsum w USING (ws)),
          |v AS (SELECT DISTINCT ws AS word FROM sym),
          |nv AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM v),
          |tr AS (
          |  SELECT 0 AS it, word, 1.0 / (SELECT nn FROM nv) AS r FROM v
          |  UNION ALL
          |  SELECT p.it + 1, e.dst,
          |         0.15 / (SELECT nn FROM nv) + 0.85 * sum(p.r * e.share)
          |  FROM tr p JOIN sh e ON e.src = p.word
          |  WHERE p.it < 10 GROUP BY 1, 2
          |)
          |SELECT word, round(r, 6) AS score
          |FROM tr WHERE it = 10 ORDER BY word""".stripMargin,

      "q_corpus_divergence" ->
        """WITH occ AS (
          |  SELECT source AS c, tok AS w
          |  FROM (SELECT source,
          |          unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
          |        FROM documents)
          |  WHERE len(tok) > 0
          |), cnt AS (SELECT c, w, CAST(count(*) AS DOUBLE) AS n
          |           FROM occ GROUP BY 1, 2),
          |tot AS (SELECT c, sum(n) AS t FROM cnt GROUP BY 1),
          |p AS (SELECT cnt.c, w, n / t AS p FROM cnt JOIN tot USING (c)),
          |sh AS (
          |  SELECT a.c AS corpus_a, b.c AS corpus_b,
          |         sum(a.p * ln(2 * a.p / (a.p + b.p))) AS sa,
          |         sum(b.p * ln(2 * b.p / (a.p + b.p))) AS sb,
          |         sum(a.p) AS ma, sum(b.p) AS mb
          |  FROM p a JOIN p b ON a.w = b.w AND a.c < b.c GROUP BY 1, 2
          |), pairs AS (
          |  SELECT a.c AS corpus_a, b.c AS corpus_b
          |  FROM tot a JOIN tot b ON a.c < b.c
          |)
          |SELECT corpus_a, corpus_b,
          |  round((
          |    (coalesce(sa, 0) + (1 - coalesce(ma, 0)) * ln(2)) * 0.5 +
          |    (coalesce(sb, 0) + (1 - coalesce(mb, 0)) * ln(2)) * 0.5
          |  ) / ln(2), 6) AS js_divergence
          |FROM pairs LEFT JOIN sh USING (corpus_a, corpus_b)
          |ORDER BY 1, 2""".stripMargin,

      "q_top_terms" ->
        """WITH cnt AS (
          |  SELECT source, token, CAST(count(*) AS BIGINT) AS n
          |  FROM (SELECT source,
          |          unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
          |        FROM documents)
          |  WHERE len(token) > 0
          |  GROUP BY 1, 2
          |), r AS (
          |  SELECT source, token, n,
          |    row_number() OVER (PARTITION BY source
          |                       ORDER BY n DESC, token) AS rank
          |  FROM cnt
          |)
          |SELECT source, CAST(rank AS INTEGER) AS rank, token, n
          |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,

      "q_tfidf" ->
        """WITH terms AS (
          |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
          |  FROM (SELECT doc_id,
          |          unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
          |        FROM documents)
          |  WHERE len(token) > 0
          |  GROUP BY doc_id, token
          |), dl AS (SELECT doc_id, sum(tf) AS doc_len FROM terms GROUP BY doc_id),
          |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM terms GROUP BY token),
          |nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
          |scored AS (
          |  SELECT t.doc_id, t.token, t.tf, dfq.df,
          |    CAST(t.tf AS DOUBLE) / CAST(dl.doc_len AS DOUBLE)
          |      * ln(nn.n / CAST(dfq.df AS DOUBLE)) AS tfidf
          |  FROM terms t JOIN dl USING (doc_id) JOIN dfq USING (token) CROSS JOIN nn
          |), ranked AS (
          |  SELECT doc_id,
          |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rnk,
          |    token, tf, df, round(tfidf, 9) AS tfidf
          |  FROM scored
          |)
          |SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, token, tf, df, tfidf
          |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

      // mirrors bm25Rank's exact arithmetic (same association order) so the
      // doubles agree bit-for-bit before the 9-digit rounding
      "q_bm25" -> Bm25OracleSql,

      "q_hybrid_rrf" ->
        """WITH base AS (
          |  SELECT doc_id,
          |    CASE WHEN len(trim(text)) = 0 THEN 0
          |         ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS dl
          |  FROM documents
          |), stats AS (
          |  SELECT CAST(count(*) AS DOUBLE) AS n,
          |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
          |  FROM base
          |), terms AS (
          |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
          |  FROM (SELECT doc_id,
          |          unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
          |        FROM documents)
          |  WHERE token IN ('spark', 'merge', 'window', 'hash')
          |  GROUP BY doc_id, token
          |), dfq AS (
          |  SELECT token, CAST(count(*) AS BIGINT) AS df FROM terms GROUP BY token
          |), scored AS (
          |  SELECT t.doc_id,
          |    ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1.0) * t.tf * (1.2 + 1.0) /
          |      (t.tf + ((b.dl / s.avgdl) * 0.75 + (1.0 - 0.75)) * 1.2) AS sc
          |  FROM terms t JOIN dfq f USING (token) JOIN base b USING (doc_id)
          |  CROSS JOIN stats s
          |), bm AS (
          |  SELECT doc_id, round(sum(sc), 9) AS score
          |  FROM scored GROUP BY doc_id
          |  ORDER BY score DESC, doc_id LIMIT 20
          |), bmr AS (
          |  SELECT doc_id,
          |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
          |  FROM bm
          |), e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |q AS (SELECT v AS qv FROM e WHERE vec_id = 3),
          |sc2 AS (
          |  SELECT e.vec_id AS doc_id,
          |    list_dot_product(qv, v)
          |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
          |      AS cos
          |  FROM e CROSS JOIN q WHERE e.vec_id != 3
          |), dn AS (
          |  SELECT doc_id,
          |    row_number() OVER (ORDER BY cos DESC, doc_id) AS rank
          |  FROM sc2 ORDER BY rank LIMIT 20
          |), u AS (
          |  SELECT doc_id, rank FROM bmr UNION ALL SELECT doc_id, rank FROM dn
          |)
          |SELECT doc_id, round(sum(1.0 / (60 + rank)), 9) AS rrf_score,
          |  CAST(count(*) AS BIGINT) AS n_lists
          |FROM u GROUP BY doc_id
          |ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin,

      // identical scores by construction — the index is just the persisted
      // (term, doc, tf, dl) aggregate of the same corpus
      "q_bm25_index" -> Bm25OracleSql,

      "q_chunk" ->
        """WITH t AS (
          |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
          |  FROM documents WHERE len(trim(text)) > 0
          |), s AS (
          |  SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start FROM t
          |)
          |SELECT doc_id, CAST(start // 24 AS INTEGER) AS chunk_idx,
          |  array_to_string(toks[start + 1:start + 32], ' ') AS chunk_text,
          |  CAST(least(32, len(toks) - start) AS INTEGER) AS n_tokens
          |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,

      "q_blocklist" ->
        """WITH pats AS (SELECT * FROM (VALUES
          |    ('table'), ('able'), ('scan'), ('a row'), ('part')) p(p)),
          |pos AS (
          |  SELECT d.doc_id, p.p, CAST(count(*) AS BIGINT) AS c
          |  FROM documents d, pats p,
          |       unnest(range(1, length(d.text) + 2 - length(p.p))) t(i)
          |  WHERE substr(d.text, i, length(p.p)) = p.p
          |  GROUP BY 1, 2),
          |agg AS (
          |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_matches,
          |    CAST(count(*) AS INT) AS n_patterns,
          |    string_agg(p, ',' ORDER BY p) AS patterns_csv
          |  FROM pos GROUP BY 1)
          |SELECT d.doc_id, coalesce(a.n_matches, 0) AS n_matches,
          |  coalesce(a.n_patterns, 0) AS n_patterns,
          |  coalesce(a.patterns_csv, '') AS patterns_csv
          |FROM documents d LEFT JOIN agg a USING (doc_id)
          |ORDER BY doc_id""".stripMargin,

      "q_ngram_novelty" ->
        """WITH sh AS (
          |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
          |                  FOR i IN range(1, len(toks) - 1)]) AS s
          |  FROM (SELECT doc_id,
          |          list_filter(
          |            string_split_regex(trim(lower(coalesce(text, ''))),
          |                               '\s+'),
          |            t -> len(t) > 0) AS toks
          |        FROM documents)),
          |g AS (SELECT doc_id, unnest(s) AS g FROM sh),
          |dfreq AS (SELECT g, count(*) AS df FROM g GROUP BY 1),
          |per AS (
          |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
          |    round(avg(CASE WHEN dfreq.df = 1 THEN 1.0 ELSE 0.0 END), 9)
          |      AS novel_frac
          |  FROM g JOIN dfreq USING (g) GROUP BY 1)
          |SELECT d.doc_id, coalesce(per.n_grams, 0) AS n_grams,
          |  coalesce(per.novel_frac, 0.0) AS novel_frac
          |FROM (SELECT DISTINCT doc_id FROM documents) d
          |LEFT JOIN per USING (doc_id)
          |ORDER BY doc_id""".stripMargin,

      "q_fim" ->
        """WITH r AS (
          |  SELECT doc_id, coalesce(text, '') AS t,
          |    CAST((CAST(doc_id AS BIGINT) * 13) % 97 AS DOUBLE) / 97.0
          |      AS p1,
          |    CAST((CAST(doc_id AS BIGINT) * 29) % 89 AS DOUBLE) / 89.0
          |      AS p2
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, t,
          |    CAST(floor(least(p1, p2) * length(t)) AS INT) AS lo,
          |    CAST(floor(greatest(p1, p2) * length(t)) AS INT) AS hi
          |  FROM r)
          |SELECT doc_id,
          |  '<|fim_pre|>' || substr(t, 1, lo) || '<|fim_suf|>' ||
          |  substr(t, hi + 1, length(t) - hi) || '<|fim_mid|>' ||
          |  substr(t, lo + 1, hi - lo) AS fim_text,
          |  CAST(lo AS INT) AS n_prefix,
          |  CAST(hi - lo AS INT) AS n_middle,
          |  CAST(length(t) - hi AS INT) AS n_suffix
          |FROM c ORDER BY doc_id""".stripMargin,

      // closed form for the gapped-mismatch candidate (see the query
      // comment): LCS = k = floor(n/2), |cand| = 2k. f replays the
      // ENGINE's operation order (2·p·r/(p+r)) rather than an
      // algebraically-equal shortcut, so the doubles agree to the last
      // ulp before the round
      "q_rouge" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
          |        x -> len(x) > 0)) AS n
          |  FROM documents),
          |c AS (SELECT doc_id, n, CAST(floor(n / 2.0) AS BIGINT) AS k FROM t)
          |SELECT doc_id,
          |  round(CASE WHEN k > 0 THEN CAST(k AS DOUBLE) / (2 * k)
          |    ELSE 0.0 END, 9) AS rouge_p,
          |  round(CASE WHEN k > 0 THEN CAST(k AS DOUBLE) / n
          |    ELSE 0.0 END, 9) AS rouge_r,
          |  round(CASE WHEN k > 0
          |    THEN 2 * (CAST(k AS DOUBLE) / (2 * k))
          |           * (CAST(k AS DOUBLE) / n)
          |         / ((CAST(k AS DOUBLE) / (2 * k)) + (CAST(k AS DOUBLE) / n))
          |    ELSE 0.0 END, 9) AS rouge_f
          |FROM c ORDER BY doc_id""".stripMargin,

      "q_distinct_n" ->
        """WITH g AS (
          |  SELECT source, array_to_string(toks[i:i+1], ' ') AS g
          |  FROM (SELECT source,
          |          list_filter(
          |            string_split_regex(trim(lower(coalesce(text, ''))),
          |                               '\s+'),
          |            t -> len(t) > 0) AS toks
          |        FROM documents),
          |       unnest(range(1, len(toks))) t(i)),
          |per AS (
          |  SELECT source, CAST(count(*) AS BIGINT) AS n_grams,
          |    CAST(count(DISTINCT g) AS BIGINT) AS n_distinct
          |  FROM g GROUP BY 1)
          |SELECT d.source, coalesce(per.n_grams, 0) AS n_grams,
          |  coalesce(per.n_distinct, 0) AS n_distinct,
          |  round(coalesce(CASE WHEN per.n_grams > 0
          |    THEN per.n_distinct / CAST(per.n_grams AS DOUBLE) END, 0.0), 9)
          |    AS distinct_frac
          |FROM (SELECT DISTINCT source FROM documents) d
          |LEFT JOIN per USING (source)
          |ORDER BY source""".stripMargin,

      "q_zipf" ->
        """WITH c AS (
          |  SELECT token, CAST(count(*) AS BIGINT) AS c FROM (
          |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
          |      AS token
          |    FROM documents) WHERE len(token) > 0
          |  GROUP BY 1 ORDER BY c DESC, token LIMIT 1000),
          |r AS (
          |  SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, token)
          |            AS DOUBLE)) AS x,
          |         ln(CAST(c AS DOUBLE)) AS y
          |  FROM c)
          |SELECT CAST(count(*) AS INT) AS n_ranks,
          |  round((sum(x * y) - sum(x) * sum(y) / count(*)) /
          |        (sum(x * x) - sum(x) * sum(x) / count(*)), 6) AS slope
          |FROM r""".stripMargin,

      "q_mink_prob" ->
        """WITH occ AS (
          |  SELECT doc_id, token FROM (
          |    SELECT doc_id,
          |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
          |    FROM documents)
          |  WHERE len(token) > 0),
          |model AS (
          |  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM occ GROUP BY 1),
          |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM occ),
          |scored AS (
          |  SELECT o.doc_id,
          |    -ln(CAST(m.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE)) AS nll,
          |    row_number() OVER (PARTITION BY o.doc_id
          |                       ORDER BY m.cnt ASC) AS rn,
          |    count(*) OVER (PARTITION BY o.doc_id) AS n
          |  FROM occ o JOIN model m USING (token) CROSS JOIN tot)
          |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
          |  CAST(greatest(1, ceil(0.2 * max(n))) AS BIGINT) AS n_scored,
          |  round(sum(CASE WHEN rn <= greatest(1, ceil(0.2 * n))
          |            THEN nll ELSE 0 END)
          |    / greatest(1, ceil(0.2 * max(n))), 9) AS mink_nll
          |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "q_surprisal" ->
        """WITH terms AS (
          |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
          |  FROM (SELECT doc_id,
          |          unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
          |        FROM documents)
          |  WHERE len(token) > 0
          |  GROUP BY doc_id, token
          |), model AS (
          |  SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM terms GROUP BY token
          |), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM model)
          |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
          |  round(-sum(CAST(tf AS DOUBLE)
          |        * ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)))
          |      / CAST(sum(tf) AS DOUBLE), 9) AS nll
          |FROM terms JOIN model USING (token) CROSS JOIN tot
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "q_decontaminate_semantic" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |b AS (SELECT v AS bv FROM e WHERE vec_id % 23 = 0),
          |sc AS (
          |  SELECT e.vec_id,
          |    list_dot_product(v, bv)
          |      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(bv, bv)))
          |      AS cos
          |  FROM e CROSS JOIN b
          |)
          |SELECT vec_id, round(max(cos), 6) AS max_cosine,
          |       CAST(count(*) AS BIGINT) AS n_hits
          |FROM sc WHERE cos >= 0.4
          |GROUP BY vec_id ORDER BY vec_id""".stripMargin,

      "q_gopher_dup" ->
        """WITH w AS (
          |  SELECT doc_id,
          |    list_filter(string_split_regex(trim(text), '\s+'),
          |                x -> len(x) > 0) AS arr
          |  FROM documents
          |), b AS (
          |  SELECT doc_id,
          |    list_transform(
          |      range(0, greatest(CAST(ceil(len(arr) / 3.0) AS INT), 1)), i ->
          |        array_to_string(list_slice(arr, i * 3 + 1, i * 3 + 3), ' '))
          |      AS rawlines
          |  FROM w
          |), l AS (
          |  SELECT doc_id,
          |    list_filter(rawlines, x -> len(x) > 0) AS lines,
          |    list_filter(
          |      list_transform(
          |        range(0, greatest(CAST(ceil(len(rawlines) / 2.0) AS INT), 1)),
          |        i -> array_to_string(list_slice(rawlines, i * 2 + 1, i * 2 + 2),
          |                             chr(10))),
          |      x -> len(x) > 0) AS paras
          |  FROM b
          |), m AS (
          |  SELECT doc_id,
          |    len(lines) AS nl, len(list_distinct(lines)) AS ndl,
          |    coalesce(list_sum(list_transform(lines, x -> len(x))), 0) AS cl,
          |    coalesce(list_sum(list_transform(list_distinct(lines),
          |                                     x -> len(x))), 0) AS cdl,
          |    len(paras) AS np, len(list_distinct(paras)) AS ndp,
          |    coalesce(list_sum(list_transform(paras, x -> len(x))), 0) AS cp,
          |    coalesce(list_sum(list_transform(list_distinct(paras),
          |                                     x -> len(x))), 0) AS cdp
          |  FROM l
          |)
          |SELECT doc_id,
          |  round(CASE WHEN nl = 0 THEN 0
          |        ELSE (nl - ndl) / CAST(nl AS DOUBLE) END, 6) AS dup_line_frac,
          |  round(CASE WHEN cl = 0 THEN 0
          |        ELSE (cl - cdl) / CAST(cl AS DOUBLE) END, 6) AS dup_line_char_frac,
          |  round(CASE WHEN np = 0 THEN 0
          |        ELSE (np - ndp) / CAST(np AS DOUBLE) END, 6) AS dup_para_frac,
          |  round(CASE WHEN cp = 0 THEN 0
          |        ELSE (cp - cdp) / CAST(cp AS DOUBLE) END, 6) AS dup_para_char_frac
          |FROM m ORDER BY doc_id""".stripMargin,

      "q_tokenbin" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(string_split_regex(trim(lower(text)), '\s+')) END
          |      AS nt
          |  FROM documents
          |)
          |SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard,
          |  CAST(nt AS INT) AS n_tokens,
          |  md5(array_to_string(range(1, nt + 1), ',')) AS ids_md5
          |FROM t ORDER BY doc_id""".stripMargin,

      "q_tokenbin_verify" ->
        """SELECT CAST(x AS INT) AS shard, CAST(1 AS BOOLEAN) AS ok
          |FROM range(4) t(x) ORDER BY 1""".stripMargin,

      "q_webdataset_verify" ->
        """SELECT CAST(x AS INT) AS shard, CAST(1 AS BOOLEAN) AS ok,
          |  CAST(1 AS BOOLEAN) AS covered
          |FROM range(4) t(x) ORDER BY 1""".stripMargin,

      "q_webdataset" ->
        """SELECT CAST(doc_id AS BIGINT) AS doc_id,
          |  CAST(2 AS BIGINT) AS n_members,
          |  md5(text) AS txt_md5,
          |  CAST(doc_id AS VARCHAR) AS json_doc_id
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q_dedup_lines" ->
        """WITH w AS (
          |  SELECT doc_id,
          |    list_filter(string_split_regex(trim(text), '\s+'),
          |                x -> len(x) > 0) AS arr
          |  FROM documents
          |), b AS (
          |  SELECT doc_id,
          |    list_transform(
          |      range(0, greatest(CAST(ceil(len(arr) / 3.0) AS INT), 1)), i ->
          |        array_to_string(list_slice(arr, i * 3 + 1, i * 3 + 3), ' '))
          |      AS lines
          |  FROM w
          |), occ AS (
          |  SELECT doc_id, unnest(lines) AS line,
          |         unnest(range(0, len(lines))) AS pos
          |  FROM b
          |), f AS (
          |  SELECT line, min(doc_id * 1000000 + pos) AS fk
          |  FROM occ GROUP BY line
          |), k AS (
          |  SELECT occ.doc_id, occ.pos, occ.line,
          |         (occ.doc_id * 1000000 + occ.pos) = f.fk AS keep
          |  FROM occ JOIN f ON occ.line = f.line
          |)
          |SELECT doc_id,
          |  coalesce(array_to_string(
          |    list(line ORDER BY pos) FILTER (WHERE keep), chr(10)), '')
          |    AS dedup_text,
          |  CAST(count(*) AS BIGINT) AS n_lines,
          |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
          |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "q_bigram_lm" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
          |                x -> len(x) > 0) AS ts
          |  FROM documents
          |), tt AS (SELECT doc_id, ts FROM t WHERE len(ts) > 0),
          |u AS (SELECT doc_id, unnest(ts) AS w FROM tt),
          |um AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM u GROUP BY w),
          |tot AS (SELECT CAST(sum(cu) AS BIGINT) AS total FROM um),
          |bg AS (
          |  SELECT doc_id, unnest(ts[1:len(ts)-1]) AS w1,
          |         unnest(ts[2:len(ts)]) AS w2
          |  FROM tt WHERE len(ts) >= 2
          |),
          |btf AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf
          |        FROM bg GROUP BY doc_id, w1, w2),
          |bm AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
          |       FROM bg GROUP BY w1, w2
          |       ORDER BY count(*) DESC, w1, w2 LIMIT 500),
          |bs AS (
          |  SELECT btf.doc_id,
          |    sum(-CAST(tf AS DOUBLE)
          |        * ln(0.75 * CAST(coalesce(bm.cb, 0) AS DOUBLE)
          |               / CAST(u1.cu AS DOUBLE)
          |             + 0.25 * CAST(u2.cu AS DOUBLE)
          |               / CAST(tot.total AS DOUBLE))) AS bsum
          |  FROM btf
          |  LEFT JOIN bm ON btf.w1 = bm.w1 AND btf.w2 = bm.w2
          |  JOIN um u1 ON btf.w1 = u1.w
          |  JOIN um u2 ON btf.w2 = u2.w
          |  CROSS JOIN tot
          |  GROUP BY btf.doc_id
          |),
          |fs AS (
          |  SELECT tt.doc_id,
          |    -ln(CAST(um.cu AS DOUBLE) / CAST(tot.total AS DOUBLE)) AS fnll,
          |    CAST(len(tt.ts) AS BIGINT) AS n_tokens
          |  FROM tt JOIN um ON tt.ts[1] = um.w CROSS JOIN tot
          |)
          |SELECT fs.doc_id, fs.n_tokens,
          |  round((fs.fnll + coalesce(bs.bsum, 0))
          |        / CAST(fs.n_tokens AS DOUBLE), 9) AS nll
          |FROM fs LEFT JOIN bs ON fs.doc_id = bs.doc_id
          |ORDER BY fs.doc_id""".stripMargin,

      "q_ccnet" ->
        """WITH terms AS (
          |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
          |  FROM (SELECT doc_id,
          |          unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
          |        FROM documents)
          |  WHERE len(token) > 0
          |  GROUP BY doc_id, token
          |), model AS (
          |  SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM terms GROUP BY token
          |), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM model),
          |sc AS (
          |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
          |    round(-sum(CAST(tf AS DOUBLE)
          |          * ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)))
          |        / CAST(sum(tf) AS DOUBLE), 9) AS nll
          |  FROM terms JOIN model USING (token) CROSS JOIN tot
          |  GROUP BY doc_id
          |), th AS (
          |  -- same interpolated-percentile definition as Spark's
          |  -- percentile(); thresholds rounded half-up to 6 decimals on
          |  -- both engines so the CASE below is bit-stable
          |  SELECT
          |    floor(quantile_cont(nll, CAST(1 AS DOUBLE)/3) * 1e6 + 0.5) / 1e6 AS t1,
          |    floor(quantile_cont(nll, CAST(2 AS DOUBLE)/3) * 1e6 + 0.5) / 1e6 AS t2
          |  FROM sc
          |)
          |SELECT doc_id, n_tokens, nll,
          |  CASE WHEN nll <= (SELECT t1 FROM th) THEN 'head'
          |       WHEN nll <= (SELECT t2 FROM th) THEN 'middle'
          |       ELSE 'tail' END AS ppl_bucket
          |FROM sc ORDER BY doc_id""".stripMargin,

      // byte-identical non-NFC suffix to the Spark query's (decomposed
      // e+U+0301, A+U+030A, a BEL control, doubled spaces); DuckDB's
      // nfc_normalize + the same RE2-portable regexes
      "q_normalize" ->
        """WITH r AS (
          |  SELECT doc_id, text || ' Café Å  fin. ' AS raw FROM documents
          |), n AS (
          |  SELECT doc_id, raw,
          |    trim(regexp_replace(regexp_replace(nfc_normalize(raw),
          |      '\p{Cc}', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text
          |  FROM r
          |)
          |SELECT doc_id, norm_text, CAST(length(raw) AS BIGINT) AS n_raw,
          |  CAST(length(norm_text) AS BIGINT) AS n_norm
          |FROM n ORDER BY doc_id""".stripMargin,

      "q_c4_clean" ->
        """WITH w AS (
          |  SELECT doc_id,
          |    list_filter(string_split_regex(trim(text), '\s+'),
          |                x -> len(x) > 0) AS arr
          |  FROM documents
          |), b AS (
          |  SELECT doc_id,
          |    list_transform(
          |      range(0, greatest(CAST(ceil(len(arr) / 6.0) AS INT), 1)), i ->
          |        array_to_string(list_slice(arr, i * 6 + 1, i * 6 + 6), ' ') ||
          |        CASE WHEN (doc_id + i) % 3 = 0 THEN '' ELSE '.' END) AS lines
          |  FROM w
          |), k AS (
          |  SELECT doc_id, lines,
          |    list_filter(lines, l ->
          |      len(list_filter(string_split_regex(trim(l), '\s+'),
          |                      x -> len(x) > 0)) >= 4
          |      AND regexp_matches(l, '[.!?"'']\s*$')
          |      AND NOT contains(lower(l), 'slow')) AS kept
          |  FROM b
          |)
          |-- array_to_string([]) is NULL in DuckDB; Spark array_join gives ''
          |SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
          |  CAST(len(lines) AS BIGINT) AS n_lines,
          |  CAST(len(kept) AS BIGINT) AS n_kept
          |FROM k ORDER BY doc_id""".stripMargin,

      "q_url_filter" ->
        """WITH u AS (
          |  SELECT doc_id,
          |    'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
          |    (['example.com', 'spam.example', 'ads.bad.net',
          |      'docs.example.org', 'blog.sample.io'])[(doc_id % 5) + 1] ||
          |    '/p/' || CAST(doc_id AS VARCHAR) AS url
          |  FROM documents
          |), h AS (
          |  SELECT doc_id, url,
          |    regexp_extract(url,
          |      '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1) AS host
          |  FROM u
          |)
          |SELECT doc_id, url, host,
          |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
          |  regexp_extract(host, '([^.]+\.[^.]+)$', 1)
          |    NOT IN ('spam.example', 'bad.net') AS kept
          |FROM h ORDER BY doc_id""".stripMargin,

      "q_bloom_decontaminate" -> checksOracle("flagged_nonempty",
        "no_false_negatives", "fp_bounded", "keep_is_complement"),

      "q_compress_ratio" -> checksOracle("ratio_positive", "ratio_bounded",
        "repetition_compresses", "corpus_nonempty"),

      "q_media_sniff" -> checksOracle("corrupt_rejected", "format_detected",
        "dims_roundtrip", "wav_meta_roundtrip", "corpus_nonempty"),

      "q_curation_e2e" -> checksOracle("stages_monotone", "gates_bite",
        "final_nonempty", "exactly_unique", "decontaminated_proven",
        "order_is_bijection"),

      "q_pretrain_e2e" -> checksOracle("curation_bites", "every_doc_packed",
        "pack_invariants", "sep_id_clean", "decode_byte_exact",
        "tokenbin_write_totals", "tokenbin_lossless",
        "tokenbin_manifest", "webdataset_write_totals",
        "webdataset_lossless", "webdataset_manifest"),

      "q_dedup_spans" -> checksOracle("had_duplicates", "dup_grams_destroyed",
        "keeper_survives", "docs_touched", "clean_docs_one_piece",
        "full_roster"),

      "q_unimax" -> checksOracle("cap_respected", "per_group_constant",
        "budget_conserved", "uncapped_uniform", "groups_nonempty"),

      "q_split_group" ->
        """SELECT doc_id, source,
          |  CASE WHEN substr(md5(source), 1, 8) < 'cccccccc' THEN 'train'
          |       WHEN substr(md5(source), 1, 8) < 'e6666666' THEN 'valid'
          |       ELSE 'test' END AS split
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q_heavy_hitters" -> checksOracle("no_undercount", "overcount_bounded",
        "candidates_complete"),

      "q_bpe" -> checksOracle("roundtrip_lossless", "monotone_merges",
        "tokens_at_least_words"),

      "q_bpe_ids" -> checksOracle("artifact_roundtrip", "count_matches_ids",
        "decodes_to_words", "ids_in_vocab", "no_unk_with_full_alphabet"),

      "q_bpe_bytes" -> checksOracle("decodes_byte_exact", "never_unk",
        "compresses_vs_bytes", "corpus_nonempty"),

      // the reconstruction is recomputed from the raw data — a real
      // data-vs-engine hash check, not a constant-true derived row
      "q_wordpiece" ->
        """SELECT doc_id,
          |  coalesce(array_to_string(
          |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
          |                x -> len(x) > 0), ''), '') AS reconstructed,
          |  CAST(0 AS BIGINT) AS n_unk
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q_unigram" -> checksOracle("roundtrip_lossless", "compresses_vs_chars",
        "pieces_at_most_chars", "pieces_at_least_words", "artifact_roundtrip",
        "vocab_within_target", "ids_count_and_range"),

      // the DCG sums are order-independent at round 6 (≤ 5 small terms);
      // the ratio metrics are exact small-integer ratios at round 9
      "q_retrieval_metrics" ->
        """WITH r AS (
          |  SELECT doc_id % 5 AS q,
          |    CAST(floor(doc_id / 5.0) + 1 AS INT) AS rank,
          |    CAST(doc_id * 7 % 4 AS DOUBLE) AS g
          |  FROM documents WHERE doc_id < 50),
          |per AS (
          |  SELECT q,
          |    count(*) FILTER (WHERE g > 0) AS n_rel,
          |    min(rank) FILTER (WHERE g > 0) AS first_rel,
          |    count(*) FILTER (WHERE rank <= 5 AND g > 0) AS hits,
          |    coalesce(sum((pow(2, g) - 1) / log2(rank + 1))
          |      FILTER (WHERE rank <= 5), 0.0) AS dcg
          |  FROM r GROUP BY q),
          |ideal AS (
          |  SELECT q, sum((pow(2, g) - 1) / log2(pos + 1)) AS idcg
          |  FROM (SELECT q, g,
          |          row_number() OVER (PARTITION BY q ORDER BY g DESC) AS pos
          |        FROM r)
          |  WHERE pos <= 5 GROUP BY q)
          |SELECT CAST(per.q AS BIGINT) AS q,
          |  CAST(n_rel AS BIGINT) AS n_rel,
          |  round(CASE WHEN n_rel > 0 THEN 1.0 / first_rel ELSE 0.0 END, 9)
          |    AS mrr,
          |  round(hits / 5.0, 9) AS p_at_k,
          |  round(CASE WHEN n_rel > 0 THEN CAST(hits AS DOUBLE) / n_rel
          |    ELSE 0.0 END, 9) AS r_at_k,
          |  round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6)
          |    AS ndcg_at_k
          |FROM per JOIN ideal USING (q) ORDER BY q""".stripMargin,

      "q_clf_report" ->
        """WITH s AS (
          |  SELECT CAST(doc_id * 3 % 4 AS VARCHAR) AS label,
          |    CAST(doc_id * 5 % 4 AS VARCHAR) AS pred
          |  FROM documents),
          |cm AS (SELECT label, pred, count(*) AS n FROM s GROUP BY 1, 2),
          |bl AS (SELECT label AS cls, sum(n) AS support FROM cm GROUP BY 1),
          |bp AS (SELECT pred AS cls, sum(n) AS predicted FROM cm GROUP BY 1),
          |tpt AS (SELECT label AS cls, n AS tp FROM cm WHERE label = pred),
          |per AS (
          |  SELECT cls, coalesce(support, 0) AS support,
          |    coalesce(predicted, 0) AS predicted, coalesce(tp, 0) AS tp
          |  FROM bl FULL JOIN bp USING (cls) LEFT JOIN tpt USING (cls)),
          |pr AS (
          |  SELECT cls, support, predicted, tp,
          |    CASE WHEN predicted > 0 THEN CAST(tp AS DOUBLE) / predicted
          |      ELSE 0.0 END AS pe,
          |    CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support
          |      ELSE 0.0 END AS re
          |  FROM per),
          |tot AS (
          |  SELECT sum(n) AS support,
          |    coalesce(sum(n) FILTER (WHERE label = pred), 0) AS tp
          |  FROM cm)
          |SELECT cls, CAST(support AS BIGINT) AS support,
          |  CAST(predicted AS BIGINT) AS predicted, CAST(tp AS BIGINT) AS tp,
          |  round(pe, 9) AS "precision", round(re, 9) AS recall,
          |  round(CASE WHEN pe + re > 0 THEN 2.0 * pe * re / (pe + re)
          |    ELSE 0.0 END, 9) AS f1
          |FROM pr
          |UNION ALL
          |SELECT '__all__', CAST(support AS BIGINT),
          |  CAST(support AS BIGINT), CAST(tp AS BIGINT),
          |  round(CAST(tp AS DOUBLE) / support, 9),
          |  round(CAST(tp AS DOUBLE) / support, 9),
          |  round(CAST(tp AS DOUBLE) / support, 9)
          |FROM tot
          |ORDER BY cls""".stripMargin,

      "q_eval_e2e" -> checksOracle("auc_beats_random", "ece_bounded",
        "isotonic_monotone", "slices_cover_sources", "ci_straddles_mean"),

      "q_quality_clf" -> checksOracle("holdout_acc_floor", "beats_majority",
        "scores_in_unit"),

      "q_agg_quantile_sketch" -> checksOracle("rank_error_bounded",
        "three_quantiles", "monotone"),

      "q_corpus_overlap" -> checksOracle("a_close", "b_exact", "contain",
        "j_close", "ov_close"),

      "q_pagerank" ->
        """WITH RECURSIVE nodes AS (SELECT doc_id AS node FROM documents),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
          |edges AS (
          |  SELECT node AS src, (node*7+3) % (SELECT n FROM nn) AS dst FROM nodes
          |  UNION ALL
          |  SELECT node, (node*13+5) % (SELECT n FROM nn) FROM nodes
          |  UNION ALL
          |  SELECT node, (node*29+11) % (SELECT n FROM nn) FROM nodes
          |),
          |pr AS (
          |  SELECT 0 AS it, node, 1.0 / (SELECT n FROM nn) AS r FROM nodes
          |  UNION ALL
          |  SELECT p.it + 1, e.dst,
          |    0.15 / (SELECT n FROM nn) + 0.85 * sum(p.r / 3.0)
          |  FROM pr p JOIN edges e ON e.src = p.node
          |  WHERE p.it < 10 GROUP BY 1, 2
          |)
          |SELECT node AS doc_id, round(r, 6) AS pr
          |FROM pr WHERE it = 10 ORDER BY doc_id""".stripMargin,

      // same 3-map multigraph; teleport vector = 1/k on the % 50 seeds,
      // 0 elsewhere; identical 10-iteration recursion (in-degree 3 per
      // node, no dangling on the permutation maps)
      "q_ppr" ->
        """WITH RECURSIVE nodes AS (SELECT doc_id AS node FROM documents),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
          |edges AS (
          |  SELECT node AS src, (node*7+3) % (SELECT n FROM nn) AS dst FROM nodes
          |  UNION ALL
          |  SELECT node, (node*13+5) % (SELECT n FROM nn) FROM nodes
          |  UNION ALL
          |  SELECT node, (node*29+11) % (SELECT n FROM nn) FROM nodes
          |),
          |sd AS (
          |  SELECT node,
          |    1.0 / (SELECT count(*) FROM nodes WHERE node % 50 = 0) AS svv
          |  FROM nodes WHERE node % 50 = 0
          |),
          |sv AS (SELECT n.node, coalesce(sd.svv, 0.0) AS s
          |       FROM nodes n LEFT JOIN sd USING (node)),
          |pr AS (
          |  SELECT 0 AS it, node, s AS r FROM sv
          |  UNION ALL
          |  SELECT p.it + 1, e.dst, 0.15 * sv2.s + 0.85 * sum(p.r / 3.0)
          |  FROM pr p
          |  JOIN edges e ON e.src = p.node
          |  JOIN sv sv2 ON sv2.node = e.dst
          |  WHERE p.it < 10 GROUP BY 1, 2, sv2.s
          |)
          |SELECT node AS doc_id, round(r, 6) AS ppr
          |FROM pr WHERE it = 10 ORDER BY doc_id""".stripMargin,

      // min-label flooding over the symmetric closure: the recursive
      // UNION (set semantics) collects every label reachable from each
      // node, and the final min over them IS the component minimum —
      // exact, structure-independent (no closed-form shortcut)
      "q_components" ->
        """WITH RECURSIVE nodes AS (
          |  SELECT CAST(doc_id AS BIGINT) AS node FROM documents),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
          |raw AS (
          |  SELECT node AS a, node + 7 AS b FROM nodes
          |  WHERE node + 7 < (SELECT n FROM nn)
          |  UNION ALL SELECT CAST(0 AS BIGINT), CAST(1 AS BIGINT)
          |  UNION ALL SELECT CAST(2 AS BIGINT), CAST(3 AS BIGINT)
          |),
          |sym AS (SELECT a, b FROM raw UNION SELECT b, a FROM raw),
          |lbl(node, comp) AS (
          |  SELECT node, node FROM nodes
          |  UNION
          |  SELECT s.a, l.comp FROM sym s JOIN lbl l ON l.node = s.b
          |)
          |SELECT node, min(comp) AS component FROM lbl
          |GROUP BY node ORDER BY node""".stripMargin,

      "q_communities" -> lpaOracleSql(iters = 8),

      "q_modularity" -> modularityOracleSql(iters = 8),

      "q_betweenness" -> betweennessOracleSql(depth = 3),

      "q_ktruss" ->
        checksOracle("clique_survives", "supports_recount_match",
          "supports_clear_k", "subset_of_input", "genuinely_pruned"),

      "q_assortativity" ->
        """WITH nodes AS (SELECT doc_id AS node FROM documents),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
          |raw AS (
          |  SELECT node AS a, (node*7+3) % (SELECT n FROM nn) AS b FROM nodes
          |  UNION ALL SELECT node, (node*13+5) % (SELECT n FROM nn) FROM nodes
          |  UNION ALL SELECT node, (node*29+11) % (SELECT n FROM nn) FROM nodes
          |  UNION ALL SELECT CAST(a AS BIGINT), CAST(b AS BIGINT) FROM (VALUES
          |    (0,1),(0,2),(0,3),(0,4),(0,5),(1,2),(1,3),(1,4),(1,5),
          |    (2,3),(2,4),(2,5),(3,4),(3,5),(4,5)) t(a,b)
          |),
          |e AS (SELECT DISTINCT least(a,b) AS u, greatest(a,b) AS v
          |      FROM raw WHERE a != b),
          |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
          |degs AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
          |         FROM sym GROUP BY 1),
          |j AS (
          |  SELECT du.deg AS x, dv.deg AS y
          |  FROM sym JOIN degs du ON du.node = sym.u
          |           JOIN degs dv ON dv.node = sym.v),
          |s AS (SELECT CAST(count(*) AS BIGINT) AS mm,
          |        CAST(sum(x) AS BIGINT) AS sx,
          |        CAST(sum(x * x) AS BIGINT) AS sxx,
          |        CAST(sum(x * y) AS BIGINT) AS sxy FROM j)
          |SELECT round(CASE WHEN mm > 0
          |    AND CAST(sxx AS DOUBLE) * mm > CAST(sx AS DOUBLE) * sx
          |  THEN (CAST(sxy AS DOUBLE) * mm - CAST(sx AS DOUBLE) * sx)
          |     / (CAST(sxx AS DOUBLE) * mm - CAST(sx AS DOUBLE) * sx)
          |  ELSE 0.0 END, 6) AS assortativity
          |FROM s""".stripMargin,

      "q_clustering" ->
        """WITH nodes AS (SELECT doc_id AS node FROM documents),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
          |raw AS (
          |  SELECT node AS a, (node*7+3) % (SELECT n FROM nn) AS b FROM nodes
          |  UNION ALL SELECT node, (node*13+5) % (SELECT n FROM nn) FROM nodes
          |  UNION ALL SELECT node, (node*29+11) % (SELECT n FROM nn) FROM nodes
          |  UNION ALL SELECT CAST(a AS BIGINT), CAST(b AS BIGINT) FROM (VALUES
          |    (0,1),(0,2),(0,3),(0,4),(0,5),(1,2),(1,3),(1,4),(1,5),
          |    (2,3),(2,4),(2,5),(3,4),(3,5),(4,5)) t(a,b)
          |),
          |e AS (SELECT DISTINCT least(a,b) AS u, greatest(a,b) AS v
          |      FROM raw WHERE a != b),
          |v AS (SELECT u AS node FROM e UNION SELECT v FROM e),
          |t AS (
          |  SELECT x.u AS p, x.v AS q, y.v AS r
          |  FROM e x JOIN e y ON y.u = x.v JOIN e z ON z.u = x.u AND z.v = y.v
          |),
          |cnt AS (
          |  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
          |    SELECT p AS node FROM t
          |    UNION ALL SELECT q FROM t
          |    UNION ALL SELECT r FROM t
          |  ) GROUP BY 1
          |),
          |deg AS (
          |  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
          |    SELECT u AS node FROM e UNION ALL SELECT v FROM e
          |  ) GROUP BY 1
          |)
          |SELECT v.node, deg.degree,
          |  coalesce(cnt.triangles, 0) AS triangles,
          |  round(CASE WHEN deg.degree >= 2
          |    THEN 2.0 * coalesce(cnt.triangles, 0)
          |         / (deg.degree * (deg.degree - 1))
          |    ELSE 0.0 END, 6) AS lcc
          |FROM v JOIN deg USING (node) LEFT JOIN cnt USING (node)
          |ORDER BY node""".stripMargin,

      "q_transitivity" ->
        """WITH nodes AS (SELECT doc_id AS node FROM documents),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
          |raw AS (
          |  SELECT node AS a, (node*7+3) % (SELECT n FROM nn) AS b FROM nodes
          |  UNION ALL SELECT node, (node*13+5) % (SELECT n FROM nn) FROM nodes
          |  UNION ALL SELECT node, (node*29+11) % (SELECT n FROM nn) FROM nodes
          |  UNION ALL SELECT CAST(a AS BIGINT), CAST(b AS BIGINT) FROM (VALUES
          |    (0,1),(0,2),(0,3),(0,4),(0,5),(1,2),(1,3),(1,4),(1,5),
          |    (2,3),(2,4),(2,5),(3,4),(3,5),(4,5)) t(a,b)
          |),
          |e AS (SELECT DISTINCT least(a,b) AS u, greatest(a,b) AS v
          |      FROM raw WHERE a != b),
          |t AS (
          |  SELECT count(*) AS ntri
          |  FROM e x JOIN e y ON y.u = x.v JOIN e z ON z.u = x.u AND z.v = y.v
          |),
          |deg AS (
          |  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
          |    SELECT u AS node FROM e UNION ALL SELECT v FROM e
          |  ) GROUP BY 1
          |),
          |w AS (SELECT sum(degree * (degree - 1) / 2.0) AS wedges FROM deg)
          |SELECT round(CASE WHEN w.wedges > 0
          |  THEN 3.0 * t.ntri / w.wedges ELSE 0.0 END, 6) AS transitivity
          |FROM t, w""".stripMargin,

      // HITS via the co-citation recursion h'(u) = Σ_{u→v} Σ_{w→v} h(w)
      // (the two half-steps composed, so one recursive vector suffices);
      // auth at T reads hub at T-1 through one more half-step. All
      // iterates are integer-valued — the end normalization is the only
      // division, so round(6) matches the engine bit-exact
      "q_hits" ->
        """WITH RECURSIVE nodes AS (
          |  SELECT CAST(doc_id AS BIGINT) AS node FROM documents),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
          |raw AS (
          |  SELECT node AS src, (node*7+3) % (SELECT n FROM nn) AS dst FROM nodes
          |  UNION ALL SELECT node, (node*13+5) % (SELECT n FROM nn) FROM nodes
          |  UNION ALL SELECT node, (node*29+11) % (SELECT n FROM nn) FROM nodes
          |),
          |e AS (SELECT DISTINCT src, dst FROM raw WHERE src != dst),
          |hub(it, node, h) AS (
          |  SELECT 0, node, CAST(1.0 AS DOUBLE) FROM nodes
          |  UNION ALL
          |  SELECT p.it + 1, e1.src, sum(p.h)
          |  FROM hub p
          |  JOIN e e2 ON e2.src = p.node
          |  JOIN e e1 ON e1.dst = e2.dst
          |  WHERE p.it < 5
          |  GROUP BY 1, 2
          |),
          |hub5 AS (SELECT n.node, coalesce(f.h, 0.0) AS h
          |         FROM nodes n LEFT JOIN (
          |           SELECT node, h FROM hub WHERE it = 5) f USING (node)),
          |auth5 AS (SELECT n.node, coalesce(g.a, 0.0) AS a
          |          FROM nodes n LEFT JOIN (
          |            SELECT e.dst AS node, sum(p.h) AS a
          |            FROM hub p JOIN e ON e.src = p.node
          |            WHERE p.it = 4 GROUP BY 1) g USING (node))
          |SELECT h5.node AS doc_id,
          |  round(h5.h / (SELECT sum(h) FROM hub5), 6) AS hub,
          |  round(a5.a / (SELECT sum(a) FROM auth5), 6) AS auth
          |FROM hub5 h5 JOIN auth5 a5 ON a5.node = h5.node
          |ORDER BY doc_id""".stripMargin,

      // undirected simple graph (maps + 6-clique); ordered three-way
      // self-join counts each triangle once at u<v<w, then the corner
      // union attributes it to all three nodes
      "q_triangles" ->
        """WITH nodes AS (SELECT doc_id AS node FROM documents),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
          |raw AS (
          |  SELECT node AS a, (node*7+3) % (SELECT n FROM nn) AS b FROM nodes
          |  UNION ALL SELECT node, (node*13+5) % (SELECT n FROM nn) FROM nodes
          |  UNION ALL SELECT node, (node*29+11) % (SELECT n FROM nn) FROM nodes
          |  UNION ALL SELECT CAST(a AS BIGINT), CAST(b AS BIGINT) FROM (VALUES
          |    (0,1),(0,2),(0,3),(0,4),(0,5),(1,2),(1,3),(1,4),(1,5),
          |    (2,3),(2,4),(2,5),(3,4),(3,5),(4,5)) t(a,b)
          |),
          |e AS (SELECT DISTINCT least(a,b) AS u, greatest(a,b) AS v
          |      FROM raw WHERE a != b),
          |v AS (SELECT u AS node FROM e UNION SELECT v FROM e),
          |t AS (
          |  SELECT x.u AS p, x.v AS q, y.v AS r
          |  FROM e x JOIN e y ON y.u = x.v JOIN e z ON z.u = x.u AND z.v = y.v
          |),
          |cnt AS (
          |  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
          |    SELECT p AS node FROM t
          |    UNION ALL SELECT q FROM t
          |    UNION ALL SELECT r FROM t
          |  ) GROUP BY 1
          |)
          |SELECT v.node, coalesce(cnt.triangles, 0) AS triangles
          |FROM v LEFT JOIN cnt USING (node) ORDER BY node""".stripMargin,

      // same undirected graph; wedge self-join on the pivot + degree
      // joins replay common/Adamic-Adar/Jaccard exactly
      "q_link_predict" ->
        """WITH nodes AS (SELECT doc_id AS node FROM documents),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
          |raw AS (
          |  SELECT node AS a, (node*7+3) % (SELECT n FROM nn) AS b FROM nodes
          |  UNION ALL SELECT node, (node*13+5) % (SELECT n FROM nn) FROM nodes
          |  UNION ALL SELECT node, (node*29+11) % (SELECT n FROM nn) FROM nodes
          |  UNION ALL SELECT CAST(a AS BIGINT), CAST(b AS BIGINT) FROM (VALUES
          |    (0,1),(0,2),(0,3),(0,4),(0,5),(1,2),(1,3),(1,4),(1,5),
          |    (2,3),(2,4),(2,5),(3,4),(3,5),(4,5)) t(a,b)
          |),
          |e AS (SELECT DISTINCT least(a,b) AS u, greatest(a,b) AS v
          |      FROM raw WHERE a != b),
          |sym AS (SELECT u AS z, v AS nb FROM e UNION ALL SELECT v, u FROM e),
          |deg AS (SELECT z, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
          |pairs AS (
          |  SELECT x.nb AS id_a, y.nb AS id_b, x.z AS z
          |  FROM sym x JOIN sym y ON y.z = x.z AND x.nb < y.nb
          |),
          |sc AS (
          |  SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS common_neighbors,
          |         sum(1.0 / ln(deg.d)) AS aa
          |  FROM pairs JOIN deg ON deg.z = pairs.z
          |  GROUP BY 1, 2 HAVING count(*) >= 2
          |)
          |SELECT sc.id_a, sc.id_b, common_neighbors,
          |  round(aa, 6) AS adamic_adar,
          |  round(CAST(common_neighbors AS DOUBLE) /
          |        (da.d + db.d - common_neighbors), 6) AS jaccard,
          |  coalesce(l.linked, false) AS already_linked
          |FROM sc
          |JOIN deg da ON da.z = sc.id_a
          |JOIN deg db ON db.z = sc.id_b
          |LEFT JOIN (SELECT u AS id_a, v AS id_b, true AS linked FROM e) l
          |  USING (id_a, id_b)
          |ORDER BY id_a, id_b""".stripMargin,

      // same 3-map graph; capped multi-source BFS (UNION dedups walk
      // tuples; min(d) per pair = shortest path), h(v) = sum of 1/d
      // over sources reaching v within the cap
      "q_harmonic" ->
        """WITH RECURSIVE nodes AS (SELECT doc_id AS node FROM documents),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
          |edges AS (
          |  SELECT DISTINCT src, dst FROM (
          |    SELECT node AS src, (node*7+3) % (SELECT n FROM nn) AS dst FROM nodes
          |    UNION ALL
          |    SELECT node, (node*13+5) % (SELECT n FROM nn) FROM nodes
          |    UNION ALL
          |    SELECT node, (node*29+11) % (SELECT n FROM nn) FROM nodes
          |  ) WHERE src != dst
          |),
          |walk AS (
          |  SELECT src AS u, dst AS v, 1 AS d FROM edges
          |  UNION
          |  SELECT w.u, e.dst, w.d + 1
          |  FROM walk w JOIN edges e ON e.src = w.v
          |  WHERE w.d < 4 AND w.u != e.dst
          |),
          |dist AS (SELECT u, v, min(d) AS d FROM walk GROUP BY 1, 2)
          |SELECT n.node AS doc_id,
          |  round(coalesce(sum(1.0 / d), 0), 6) AS harmonic
          |FROM nodes n LEFT JOIN dist ON dist.v = n.node
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_harmonic_hyperball" ->
        checksOracle("covers_all_nodes", "positive_where_exact_is",
          "mean_rel_error_in_band", "mass_within_10pct"),

      // same walk CTE as q_harmonic; N(r) = self-pairs + pairs at d <= r
      "q_anf" ->
        """WITH RECURSIVE nodes AS (SELECT doc_id AS node FROM documents),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
          |edges AS (
          |  SELECT DISTINCT src, dst FROM (
          |    SELECT node AS src, (node*7+3) % (SELECT n FROM nn) AS dst FROM nodes
          |    UNION ALL
          |    SELECT node, (node*13+5) % (SELECT n FROM nn) FROM nodes
          |    UNION ALL
          |    SELECT node, (node*29+11) % (SELECT n FROM nn) FROM nodes
          |  ) WHERE src != dst
          |),
          |walk AS (
          |  SELECT src AS u, dst AS v, 1 AS d FROM edges
          |  UNION
          |  SELECT w.u, e.dst, w.d + 1
          |  FROM walk w JOIN edges e ON e.src = w.v
          |  WHERE w.d < 4 AND w.u != e.dst
          |),
          |dist AS (SELECT u, v, min(d) AS d FROM walk GROUP BY 1, 2)
          |SELECT CAST(r AS BIGINT) AS r,
          |  CAST((SELECT n FROM nn) +
          |       (SELECT count(*) FROM dist WHERE d <= r) AS BIGINT) AS pairs
          |FROM (SELECT unnest(range(0, 5)) AS r) ORDER BY r""".stripMargin,

      "q_anf_hyperball" ->
        checksOracle("covers_all_radii", "rel_error_in_band", "monotone",
          "effective_diameter_close"),

      "q_decontaminate" ->
        """WITH sh AS (
          |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+3], ' ')
          |                  FOR i IN range(1, len(toks) - 2)]) AS s
          |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
          |        FROM documents)
          |), bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 29 = 0),
          |corp AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 29 != 0)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
          |FROM corp JOIN bench USING (g)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // same gram definition as q_decontaminate; positions/indices are
      // 1-based here where the Spark side is 0-based — the windows and
      // seams land on identical tokens. n = 4, pad = 2 → window [p-2, p+5].
      "q_decontaminate_scrub" ->
        """WITH tok AS (
          |  SELECT doc_id,
          |    list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\s+'),
          |      t -> len(t) > 0) AS toks
          |  FROM documents
          |), bench AS (
          |  SELECT DISTINCT unnest([array_to_string(toks[i:i+3], ' ')
          |           FOR i IN range(1, len(toks) - 2)]) AS g
          |  FROM tok WHERE doc_id % 29 = 0
          |), corp AS (
          |  SELECT doc_id, toks, len(toks) AS L FROM tok WHERE doc_id % 29 != 0
          |), gpos AS (
          |  SELECT doc_id, toks, unnest(range(1, L - 2)) AS p FROM corp
          |), hits AS (
          |  SELECT doc_id, list_sort(list(DISTINCT p)) AS hp
          |  FROM gpos
          |  WHERE array_to_string(toks[p:p+3], ' ') IN (SELECT g FROM bench)
          |  GROUP BY doc_id
          |), rm AS (
          |  SELECT c.doc_id, c.toks, c.L,
          |    list_sort(list_distinct(flatten(
          |      [range(greatest(1, p - 2), least(L, p + 5) + 1)
          |       FOR p IN coalesce(h.hp, [])]))) AS rmv
          |  FROM corp c LEFT JOIN hits h USING (doc_id)
          |), kp AS (
          |  SELECT doc_id, toks, L, rmv,
          |    [j FOR j IN range(1, L + 1) IF NOT list_contains(rmv, j)] AS kept
          |  FROM rm
          |)
          |SELECT doc_id,
          |  coalesce(array_to_string(
          |    [CASE WHEN i = 1 THEN '' WHEN kept[i] = kept[i-1] + 1 THEN ' '
          |          ELSE chr(10) END || toks[kept[i]]
          |     FOR i IN range(1, len(kept) + 1)], ''), '') AS scrub_text,
          |  CAST(L AS BIGINT) AS n_tokens,
          |  CAST(len(rmv) AS BIGINT) AS n_removed,
          |  CAST(CASE WHEN len(kept) = 0 THEN 0
          |       ELSE 1 + len([i FOR i IN range(2, len(kept) + 1)
          |                     IF kept[i] != kept[i-1] + 1]) END AS BIGINT)
          |    AS n_pieces
          |FROM kp ORDER BY doc_id""".stripMargin,

      "q_pack_sequences" ->
        """WITH RECURSIVE t AS (
          |  SELECT source, doc_id,
          |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(string_split_regex(trim(lower(text)), '\s+')) END
          |      AS INTEGER) AS nt,
          |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
          |  FROM documents
          |), p AS (
          |  SELECT source, doc_id, nt, rn, nt AS cum, 1 AS pack_id
          |  FROM t WHERE rn = 1
          |  UNION ALL
          |  SELECT t.source, t.doc_id, t.nt, t.rn,
          |    CASE WHEN p.cum + t.nt > 128 THEN t.nt ELSE p.cum + t.nt END,
          |    CASE WHEN p.cum + t.nt > 128 THEN p.pack_id + 1 ELSE p.pack_id END
          |  FROM p JOIN t ON t.source = p.source AND t.rn = p.rn + 1
          |)
          |SELECT source, doc_id, nt AS n_tokens,
          |  CAST(pack_id AS INTEGER) AS pack_id, CAST(cum AS INTEGER) AS pack_cum
          |FROM p ORDER BY source, doc_id""".stripMargin,

      "q_pack_ffd" ->
        checksOracle("assigned_exactly_once", "budget_respected",
          "no_worse_than_greedy", "packs_nonempty"),

      "q_pack_ffd_assemble" ->
        checksOracle("matches_assignment", "every_doc_once",
          "id_accounting_holds", "packs_nonempty"),

      "q_kcore" ->
        checksOracle("core_nonempty", "min_degree_at_least_k",
          "induced_degrees_match", "clique_in_core"),

      "q_walks" ->
        checksOracle("two_walks_per_node", "full_length",
          "every_hop_is_an_edge", "paths_start_at_start"),

      "q_node2vec" ->
        checksOracle("two_walks_per_node", "full_length",
          "every_hop_is_an_edge", "paths_start_at_start",
          "no_backtrack_when_p_huge"),

      // SCC by definition: the recursive closure collects ALL reachable
      // pairs (UNION set semantics terminates at the fixpoint), mutual
      // reach intersects it with its transpose, and the component label
      // is the minimum mutual partner (self included)
      "q_scc" ->
        """WITH RECURSIVE nodes0 AS (
          |  SELECT CAST(doc_id AS BIGINT) AS node FROM documents),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes0),
          |e AS (
          |  SELECT node AS u,
          |    (node // 25) * 25 + ((node % 25 + 5) % 25) AS v
          |  FROM nodes0
          |  UNION ALL
          |  SELECT node, node + 25 FROM nodes0
          |  WHERE node % 50 = 0 AND node + 25 < (SELECT n FROM nn)
          |  UNION ALL
          |  SELECT (SELECT n FROM nn) - 1, CAST(3 AS BIGINT)
          |),
          |reach(u, v) AS (
          |  SELECT u, v FROM e
          |  UNION
          |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v
          |),
          |mutual AS (
          |  SELECT a.u AS node, a.v AS m
          |  FROM reach a JOIN reach b ON b.u = a.v AND b.v = a.u
          |)
          |SELECT n.node,
          |  least(n.node, coalesce(min(m.m), n.node)) AS component
          |FROM nodes0 n LEFT JOIN mutual m ON m.node = n.node
          |GROUP BY n.node ORDER BY n.node""".stripMargin,

      // every card number recomputed from the same raw list: scalar
      // subqueries over the simple edge set, EXISTS for reciprocity
      "q_graph_card" ->
        """WITH nodes0 AS (
          |  SELECT CAST(doc_id AS BIGINT) AS node FROM documents),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes0),
          |raw AS (
          |  SELECT node AS a, (node*7+3) % (SELECT n FROM nn) AS b FROM nodes0
          |  UNION ALL SELECT node, (node*13+5) % (SELECT n FROM nn) FROM nodes0
          |  UNION ALL SELECT node, (node*29+11) % (SELECT n FROM nn) FROM nodes0
          |  UNION ALL SELECT CAST(a AS BIGINT), CAST(b AS BIGINT) FROM (VALUES
          |    (0,1),(0,2),(0,3),(0,4),(0,5),(1,2),(1,3),(1,4),(1,5),
          |    (2,3),(2,4),(2,5),(3,4),(3,5),(4,5)) t(a,b)
          |),
          |nonself AS (SELECT a AS u, b AS v FROM raw WHERE a != b),
          |simple AS (SELECT DISTINCT u, v FROM nonself),
          |agg AS (SELECT
          |  (SELECT count(*) FROM
          |    (SELECT a AS x FROM raw UNION SELECT b FROM raw)) AS n_nodes,
          |  (SELECT count(*) FROM simple) AS n_edges,
          |  (SELECT count(*) FROM raw WHERE a = b) AS n_self_loops,
          |  (SELECT count(*) FROM nonself)
          |    - (SELECT count(*) FROM simple) AS n_dup_edges,
          |  (SELECT count(*) FROM simple e WHERE EXISTS
          |    (SELECT 1 FROM simple r
          |     WHERE r.u = e.v AND r.v = e.u)) AS n_reciprocal,
          |  (SELECT coalesce(max(c), 0) FROM
          |    (SELECT count(*) AS c FROM simple GROUP BY u)) AS max_out_deg,
          |  (SELECT coalesce(max(c), 0) FROM
          |    (SELECT count(*) AS c FROM simple GROUP BY v)) AS max_in_deg)
          |SELECT n_nodes, n_edges, n_self_loops, n_dup_edges, n_reciprocal,
          |  round(CASE WHEN n_edges > 0
          |        THEN CAST(n_reciprocal AS DOUBLE) / n_edges
          |        ELSE 0.0 END, 6) AS reciprocity,
          |  max_out_deg, max_in_deg,
          |  round(CASE WHEN n_nodes > 1
          |        THEN CAST(n_edges AS DOUBLE) / (n_nodes * (n_nodes - 1))
          |        ELSE 0.0 END, 6) AS density
          |FROM agg""".stripMargin,

      // same recursive pack CTE, then the physical assembly: per-doc ids
      // are the structural 1..nt (DuckDB range(1, nt+1) = [] at nt = 0),
      // each doc terminated by 0, packs concatenated in doc order
      "q_pack_assemble" ->
        """WITH RECURSIVE t AS (
          |  SELECT source, doc_id,
          |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(string_split_regex(trim(lower(text)), '\s+')) END
          |      AS INTEGER) AS nt,
          |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
          |  FROM documents
          |), p AS (
          |  SELECT source, doc_id, nt, rn, nt AS cum, 1 AS pack_id
          |  FROM t WHERE rn = 1
          |  UNION ALL
          |  SELECT t.source, t.doc_id, t.nt, t.rn,
          |    CASE WHEN p.cum + t.nt > 128 THEN t.nt ELSE p.cum + t.nt END,
          |    CASE WHEN p.cum + t.nt > 128 THEN p.pack_id + 1 ELSE p.pack_id END
          |  FROM p JOIN t ON t.source = p.source AND t.rn = p.rn + 1
          |)
          |SELECT source, CAST(pack_id AS INTEGER) AS pack_id,
          |  array_to_string(
          |    flatten(list(list_concat(range(1, nt + 1), [0]) ORDER BY doc_id)),
          |    ',') AS packed_csv,
          |  array_to_string(list(doc_id ORDER BY doc_id), ',') AS doc_csv,
          |  CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(nt) + count(*) AS BIGINT) AS n_ids
          |FROM p GROUP BY source, pack_id ORDER BY source, pack_id""".stripMargin,

      "q_dedup_semantic" ->
        checksOracle("pairs_nonempty", "precision_exact", "recall_floor",
          "keep_prunes"),

      // template replay: per-turn start offset = windowed sum of the
      // preceding rendered lengths (tag + text + newline); spans cover
      // the text segment of assistant turns; string_agg(ORDER BY)
      // rebuilds the rendered conversation. length() counts code points
      // in both engines, so offsets agree on non-ASCII text too
      "q_sft_chat" ->
        """WITH t AS (
          |  SELECT CAST(doc_id AS BIGINT) % 40 AS conv,
          |         CAST(doc_id AS BIGINT) AS ord,
          |         CASE WHEN (CAST(doc_id AS BIGINT) // 40) % 2 = 0
          |              THEN 'user' ELSE 'assistant' END AS role,
          |         coalesce(text, '') AS txt
          |  FROM documents),
          |o AS (
          |  SELECT conv, ord, role, txt,
          |    coalesce(sum(length('<|' || role || '|>' || txt) + 1)
          |      OVER (PARTITION BY conv ORDER BY ord
          |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          |      0) AS off
          |  FROM t),
          |s AS (
          |  SELECT conv, ord, role, txt,
          |    off + length('<|' || role || '|>') AS sp_start,
          |    off + length('<|' || role || '|>') + length(txt) AS sp_end
          |  FROM o)
          |SELECT conv,
          |  CAST(count(*) AS INTEGER) AS n_turns,
          |  string_agg('<|' || role || '|>' || txt || chr(10), ''
          |    ORDER BY ord) AS text,
          |  coalesce(string_agg(
          |    CASE WHEN role = 'assistant'
          |         THEN sp_start || ':' || sp_end END, ',' ORDER BY ord),
          |    '') AS mask_spans,
          |  CAST(coalesce(sum(CASE WHEN role = 'assistant'
          |                         THEN length(txt) END), 0) AS INTEGER)
          |    AS masked_chars
          |FROM s GROUP BY conv ORDER BY conv""".stripMargin,

      // the same (score desc, id asc) / (score asc, id desc) argmaxes
      // replayed as window row_numbers; the gap floor and the
      // two-response minimum apply identically
      "q_dpo_pairs" ->
        """WITH r AS (
          |  SELECT CAST(doc_id AS BIGINT) % 50 AS prompt,
          |         CAST(doc_id AS BIGINT) AS rid,
          |         coalesce(text, '') AS txt,
          |         CAST((CAST(doc_id AS BIGINT) * 37) % 97 AS DOUBLE)
          |           AS score
          |  FROM documents),
          |c AS (
          |  SELECT *,
          |    row_number() OVER (PARTITION BY prompt
          |                       ORDER BY score DESC, rid ASC) AS rc,
          |    row_number() OVER (PARTITION BY prompt
          |                       ORDER BY score ASC, rid DESC) AS rr,
          |    count(*) OVER (PARTITION BY prompt) AS n
          |  FROM r)
          |SELECT ch.prompt, ch.rid AS chosen_id, rj.rid AS rejected_id,
          |  ch.txt AS chosen_text, rj.txt AS rejected_text,
          |  round(ch.score - rj.score, 6) AS score_gap
          |FROM (SELECT * FROM c WHERE rc = 1) ch
          |JOIN (SELECT * FROM c WHERE rr = 1) rj USING (prompt)
          |WHERE ch.n >= 2 AND ch.score - rj.score >= 5.0
          |  AND ch.rid <> rj.rid
          |ORDER BY prompt""".stripMargin,

      "q_dpo_all" ->
        """WITH r AS (
          |  SELECT CAST(doc_id AS BIGINT) % 50 AS prompt,
          |         CAST(doc_id AS BIGINT) AS rid,
          |         coalesce(text, '') AS txt,
          |         CAST((CAST(doc_id AS BIGINT) * 37) % 97 AS DOUBLE)
          |           AS score
          |  FROM documents)
          |SELECT a.prompt, a.rid AS chosen_id, b.rid AS rejected_id,
          |  a.txt AS chosen_text, b.txt AS rejected_text,
          |  round(a.score - b.score, 6) AS score_gap
          |FROM r a JOIN r b ON a.prompt = b.prompt
          |WHERE a.score > b.score AND a.score - b.score >= 60.0
          |ORDER BY 1, 2, 3""".stripMargin,

      "q_bradley_terry" -> bradleyTerryOracleSql(iters = 10),

      // 63 battles at sf0.01; 70 unrolled steps = identity headroom
      "q_elo" -> eloOracleSql(steps = 70),

      "q_agree_cohen" ->
        """WITH r AS (
          |  SELECT CAST((CAST(doc_id AS BIGINT) * 3) % 4 AS VARCHAR) AS a,
          |         CAST((CAST(doc_id AS BIGINT) * 5 + 1) % 4 AS VARCHAR)
          |           AS b
          |  FROM documents),
          |tot AS (
          |  SELECT count(*) AS n,
          |         sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree
          |  FROM r),
          |ma AS (SELECT a AS k, count(*) AS na FROM r GROUP BY 1),
          |mb AS (SELECT b AS k, count(*) AS nb FROM r GROUP BY 1),
          |ch AS (
          |  SELECT sum(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS prod
          |  FROM ma JOIN mb USING (k)),
          |v AS (
          |  SELECT CAST(n AS BIGINT) AS n_items,
          |    CAST(agree AS DOUBLE) / n AS po,
          |    coalesce(prod, 0)
          |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
          |  FROM tot, ch)
          |SELECT n_items, round(po, 9) AS po, round(pe, 9) AS pe,
          |  round(CASE WHEN pe >= 1.0
          |             THEN CASE WHEN po >= 1.0 THEN 1.0 ELSE 0.0 END
          |             ELSE (po - pe) / (1.0 - pe) END, 9) AS kappa
          |FROM v""".stripMargin,

      "q_agree_ac1" ->
        """WITH r AS (
          |  SELECT CASE WHEN CAST(doc_id AS BIGINT) % 7 = 0
          |           THEN CAST((CAST(doc_id AS BIGINT) * 3) % 4 AS VARCHAR)
          |           ELSE '0' END AS a,
          |         CASE WHEN CAST(doc_id AS BIGINT) % 5 = 0
          |           THEN CAST((CAST(doc_id AS BIGINT) * 5 + 1) % 4
          |             AS VARCHAR)
          |           ELSE '0' END AS b
          |  FROM documents),
          |tot AS (
          |  SELECT count(*) AS n,
          |         sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree
          |  FROM r),
          |ma AS (SELECT a AS k, count(*) AS na FROM r GROUP BY 1),
          |mb AS (SELECT b AS k, count(*) AS nb FROM r GROUP BY 1),
          |u AS (
          |  SELECT CAST(coalesce(na, 0) AS DOUBLE)
          |       + CAST(coalesce(nb, 0) AS DOUBLE) AS m
          |  FROM ma FULL OUTER JOIN mb ON ma.k = mb.k),
          |ch AS (SELECT count(*) AS kk, sum(m * m) AS m2, sum(m) AS m1
          |       FROM u),
          |v AS (
          |  SELECT CAST(n AS BIGINT) AS n_items,
          |    CAST(agree AS DOUBLE) / n AS po,
          |    CASE WHEN kk <= 1 THEN 0.0
          |         ELSE (m1 / (n * 2.0) - m2 / (n * 2.0 * n * 2.0))
          |              / (kk - 1.0) END AS pe,
          |    kk
          |  FROM tot, ch)
          |SELECT n_items, round(po, 9) AS po, round(pe, 9) AS pe,
          |  round(CASE WHEN kk <= 1 THEN 1.0
          |             ELSE (po - pe) / (1.0 - pe) END, 9) AS ac1
          |FROM v""".stripMargin,

      "q_agree_fleiss" ->
        """WITH r AS (
          |  SELECT CAST(doc_id AS BIGINT) % 100 AS item,
          |         CAST((CAST(doc_id AS BIGINT) * 7) % 3 AS VARCHAR)
          |           AS lab
          |  FROM documents),
          |cnt AS (
          |  SELECT item, lab, count(*) AS n FROM r GROUP BY 1, 2),
          |pi AS (
          |  SELECT item, sum(n * n) AS sq, sum(n) AS m
          |  FROM cnt GROUP BY 1),
          |sh AS (
          |  SELECT count(*) AS ni, min(m) AS m FROM pi),
          |pb AS (
          |  SELECT CAST(sum(sq) - sum(m) AS DOUBLE)
          |    / ((SELECT ni FROM sh) * (SELECT m FROM sh)
          |       * ((SELECT m FROM sh) - 1)) AS p_bar
          |  FROM pi),
          |pe AS (
          |  SELECT sum(CAST(nk AS DOUBLE) * CAST(nk AS DOUBLE))
          |    / (CAST((SELECT ni * m FROM sh) AS DOUBLE)
          |       * CAST((SELECT ni * m FROM sh) AS DOUBLE)) AS p_e
          |  FROM (SELECT lab, sum(n) AS nk FROM cnt GROUP BY 1))
          |SELECT CAST((SELECT ni FROM sh) AS BIGINT) AS n_items,
          |  CAST((SELECT m FROM sh) AS BIGINT) AS n_raters,
          |  round(p_bar, 9) AS p_bar, round(p_e, 9) AS p_e,
          |  round(CASE WHEN p_e >= 1.0
          |             THEN CASE WHEN p_bar >= 1.0 THEN 1.0 ELSE 0.0 END
          |             ELSE (p_bar - p_e) / (1.0 - p_e) END, 9) AS kappa
          |FROM pb, pe""".stripMargin,

      // the summary row replays the same per-bin-then-weighted shape
      // the engine uses (NOT a direct corpus mean — float parity)
      "q_calibration" ->
        """WITH r AS (
          |  SELECT ((CAST(doc_id AS BIGINT) * 13) % 101) / 100.0 AS s,
          |    CAST(((CAST(doc_id AS BIGINT) * 37) % 97) % 2 AS DOUBLE)
          |      AS y
          |  FROM documents),
          |pb AS (
          |  SELECT CAST(least(floor(s * 10), 9) AS INTEGER) AS bin,
          |    count(*) AS n, avg(s) AS conf, avg(y) AS acc
          |  FROM r GROUP BY 1)
          |SELECT bin, CAST(n AS BIGINT) AS n,
          |  round(conf, 9) AS confidence, round(acc, 9) AS accuracy,
          |  round(abs(acc - conf), 9) AS gap
          |FROM pb
          |UNION ALL
          |SELECT -1, CAST(sum(n) AS BIGINT),
          |  round(sum(conf * n) / sum(n), 9),
          |  round(sum(acc * n) / sum(n), 9),
          |  round(sum(abs(acc - conf) * n) / sum(n), 9)
          |FROM pb
          |ORDER BY bin""".stripMargin,

      "q_agree_alpha" ->
        """WITH r AS (
          |  SELECT CAST(doc_id AS BIGINT) % 100 AS item,
          |    CAST((CAST(doc_id AS BIGINT) * 7) % 3 AS VARCHAR) AS lab
          |  FROM documents
          |  WHERE (CAST(doc_id AS BIGINT) * 11) % 7 <> 0),
          |cnt AS (
          |  SELECT item, lab, count(*) AS n FROM r GROUP BY 1, 2),
          |pi AS (
          |  SELECT item, sum(n * n) AS sq, sum(n) AS m
          |  FROM cnt GROUP BY 1 HAVING sum(n) >= 2),
          |d_o AS (
          |  SELECT count(*) AS ni, sum(m) AS nr,
          |    sum((CAST(m AS DOUBLE) * m - sq) / CAST(m - 1 AS DOUBLE))
          |      AS dn
          |  FROM pi),
          |lt AS (
          |  SELECT sum(CAST(nk AS DOUBLE) * CAST(nk AS DOUBLE)) AS sqk
          |  FROM (SELECT c.lab, sum(c.n) AS nk
          |        FROM cnt c JOIN pi USING (item) GROUP BY 1)),
          |v AS (
          |  SELECT CAST(ni AS BIGINT) AS n_items,
          |    CAST(nr AS BIGINT) AS n_ratings,
          |    dn / nr AS d_o,
          |    (CAST(nr AS DOUBLE) * nr - sqk)
          |      / (CAST(nr AS DOUBLE) * (nr - 1)) AS d_e
          |  FROM d_o, lt)
          |SELECT n_items, n_ratings,
          |  round(d_o, 9) AS d_o, round(d_e, 9) AS d_e,
          |  round(CASE WHEN d_e <= 0.0 THEN 1.0
          |             ELSE 1.0 - d_o / d_e END, 9) AS alpha
          |FROM v""".stripMargin,

      "q_vocab_richness" ->
        """WITH freq AS (
          |  SELECT token, count(*) AS c
          |  FROM (SELECT unnest(string_split_regex(trim(lower(text)),
          |                '\s+')) AS token
          |        FROM documents)
          |  WHERE len(token) > 0 GROUP BY token),
          |sp AS (
          |  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
          |    CAST(count(*) AS BIGINT) AS vocab,
          |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS f1,
          |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS f2
          |  FROM freq)
          |SELECT n_tokens, vocab, f1, f2,
          |  round(vocab + CAST(f1 AS DOUBLE) * (f1 - 1)
          |    / (2.0 * (f2 + 1)), 9) AS chao1,
          |  round(CAST(f1 AS DOUBLE) / n_tokens, 9) AS gt_unseen_mass
          |FROM sp""".stripMargin,

      "q_auc" ->
        """WITH r AS (
          |  SELECT ((CAST(doc_id AS BIGINT) * 13) % 101) / 100.0 AS s,
          |    CAST(((CAST(doc_id AS BIGINT) * 37) % 97) % 2 AS DOUBLE)
          |      AS y
          |  FROM documents),
          |ps AS (
          |  SELECT s, sum(y) AS np, sum(1 - y) AS nn FROM r GROUP BY 1),
          |cw AS (
          |  SELECT np, nn,
          |    coalesce(sum(nn) OVER (ORDER BY s
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS cum
          |  FROM ps)
          |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
          |  CAST(sum(nn) AS BIGINT) AS n_neg,
          |  round(sum(np * (cum + nn / 2)) / (sum(np) * sum(nn)), 9)
          |    AS auc
          |FROM cw""".stripMargin,

      "q_ab_report" ->
        s"""WITH r AS (
          |  SELECT CAST(((CAST(doc_id AS BIGINT) * 37) % 97) % 2
          |      AS BIGINT) AS y,
          |    ((CAST(doc_id AS BIGINT) * 13) % 101) / 100.0 AS va,
          |    ((CAST(doc_id AS BIGINT) * 29) % 53) / 64.0 AS vb
          |  FROM documents),
          |sm AS (
          |  SELECT y, CASE WHEN va >= 0.5 THEN 1 ELSE 0 END AS a,
          |    CASE WHEN vb >= 0.5 THEN 1 ELSE 0 END AS b
          |  FROM r),
          |ag AS (
          |  SELECT count(*) AS n,
          |    sum(CASE WHEN y = a THEN 1 ELSE 0 END) AS mca,
          |    sum(CASE WHEN y = b THEN 1 ELSE 0 END) AS mcb,
          |    sum(CASE WHEN y = a AND y <> b THEN 1 ELSE 0 END) AS bb,
          |    sum(CASE WHEN y <> a AND y = b THEN 1 ELSE 0 END) AS cc
          |  FROM sm),
          |st AS (
          |  SELECT *, $mcnemarStatSql AS stat
          |  FROM ag),
          |mcx AS (SELECT *, sqrt(stat / 2.0) AS mxq FROM st),
          |mc AS (
          |  SELECT CAST(n AS BIGINT) AS n,
          |    round(mca * 1.0 / n, 9) AS acc_a,
          |    round(mcb * 1.0 / n, 9) AS acc_b,
          |    CAST(bb AS BIGINT) AS b_discordant,
          |    CAST(cc AS BIGINT) AS c_discordant,
          |    round(stat, 9) AS mcnemar_stat,
          |    round(least(1.0, ${erfccSql("mxq")}), 9) AS mcnemar_p
          |  FROM mcx),
          |$deLongCtesSql,
          |dl AS (
          |  SELECT round(aA, 9) AS auc_a, round(aB, 9) AS auc_b,
          |    round(delta, 9) AS auc_delta, round(z, 9) AS delong_z,
          |    round(CASE WHEN v <= 0.0 THEN 1.0
          |          ELSE least(1.0, ${erfccSql("xq")}) END, 9)
          |      AS delong_p
          |  FROM px)
          |SELECT * FROM mc CROSS JOIN dl""".stripMargin,

      "q_slice_eval" ->
        """WITH r AS (
          |  SELECT coalesce(CAST(lang AS VARCHAR), '__null__') AS slice,
          |    ((CAST(doc_id AS BIGINT) * 13) % 101) / 128.0 AS sc,
          |    CAST(((CAST(doc_id AS BIGINT) * 37) % 97) % 2 AS DOUBLE)
          |      AS y
          |  FROM documents),
          |b AS (
          |  SELECT slice, LEAST(CAST(FLOOR(sc * 8) AS INT), 7) AS bin,
          |    sum(y) AS np, sum(1.0 - y) AS nn, sum(sc) AS ssum
          |  FROM r GROUP BY 1, 2),
          |c AS (
          |  SELECT *, COALESCE(SUM(nn) OVER (PARTITION BY slice
          |    ORDER BY bin
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
          |    AS cum_nn
          |  FROM b)
          |SELECT slice, CAST(sum(np) + sum(nn) AS BIGINT) AS n,
          |  COALESCE(round(CASE WHEN sum(np) > 0 AND sum(nn) > 0
          |    THEN sum(np * (cum_nn + nn / 2)) / (sum(np) * sum(nn))
          |    END, 9), -1.0) AS auc,
          |  round(sum(abs(ssum - np)) / (sum(np) + sum(nn)), 9) AS ece
          |FROM c GROUP BY slice ORDER BY slice""".stripMargin,

      "q_proper_scores" ->
        """WITH r AS (
          |  SELECT ((CAST(doc_id AS BIGINT) * 13) % 101) / 128.0 AS s,
          |    CAST(((CAST(doc_id AS BIGINT) * 37) % 97) % 2 AS DOUBLE)
          |      AS y
          |  FROM documents),
          |cl AS (
          |  SELECT s, y,
          |    LEAST(GREATEST(s, 1e-15), 1.0 - 1e-15) AS pc,
          |    LEAST(CAST(FLOOR(s * 10) AS INT), 9) AS bin
          |  FROM r),
          |b AS (
          |  SELECT bin, count(*) AS n, sum(y) AS sy, sum(s) AS sp,
          |    sum((s - y) * (s - y)) AS sq,
          |    sum(-(y * ln(pc) + (1.0 - y) * ln(1.0 - pc))) AS sll
          |  FROM cl GROUP BY 1),
          |yb AS (
          |  SELECT CAST(sum(sy) AS DOUBLE) / sum(n) AS ybar,
          |    sum(n) AS nn
          |  FROM b),
          |red AS (
          |  SELECT sum(sq) AS sq, sum(sll) AS sll,
          |    sum((sp / n - sy / n) * (sp / n - sy / n) * n) AS rel,
          |    sum((sy / n - (SELECT ybar FROM yb))
          |      * (sy / n - (SELECT ybar FROM yb)) * n) AS res
          |  FROM b)
          |SELECT CAST((SELECT nn FROM yb) AS BIGINT) AS n,
          |  round(sll / (SELECT nn FROM yb), 9) AS log_loss,
          |  round(sq / (SELECT nn FROM yb), 9) AS brier,
          |  round(rel / (SELECT nn FROM yb), 9) AS reliability,
          |  round(res / (SELECT nn FROM yb), 9) AS resolution,
          |  round((SELECT ybar FROM yb)
          |    * (1.0 - (SELECT ybar FROM yb)), 9) AS uncertainty
          |FROM red""".stripMargin,

      "q_noninferiority" ->
        s"""WITH r AS (
          |  SELECT CAST(((CAST(doc_id AS BIGINT) * 37) % 97) % 2
          |      AS BIGINT) AS y,
          |    CASE WHEN (CAST(doc_id AS BIGINT) * 13) % 101 >= 50
          |         THEN 1 ELSE 0 END AS a,
          |    CASE WHEN (CAST(doc_id AS BIGINT) * 29) % 53 >= 27
          |         THEN 1 ELSE 0 END AS b
          |  FROM documents),
          |ag AS (
          |  SELECT count(*) AS n,
          |    sum(CASE WHEN y = a THEN 1 ELSE 0 END) AS mca,
          |    sum(CASE WHEN y = b THEN 1 ELSE 0 END) AS mcb,
          |    sum(CASE WHEN y = a AND y <> b THEN 1 ELSE 0 END) AS bb,
          |    sum(CASE WHEN y <> a AND y = b THEN 1 ELSE 0 END) AS cc
          |  FROM r),
          |st AS (
          |  SELECT *, CAST(cc - bb AS DOUBLE) / n AS delta,
          |    sqrt(greatest(0.0, (bb + cc)
          |      - CAST(bb - cc AS DOUBLE) * (bb - cc) / n)) / n AS se
          |  FROM ag),
          |zz AS (
          |  SELECT *, CASE WHEN se <= 0.0 THEN 0.0
          |    ELSE (delta + 0.02) / se END AS z
          |  FROM st),
          |px AS (SELECT *, abs(z) / sqrt(2.0) AS xq FROM zz),
          |pv AS (
          |  SELECT *,
          |    round(CASE
          |      WHEN se <= 0.0 THEN
          |        CASE WHEN delta + 0.02 > 0 THEN 0.0 ELSE 1.0 END
          |      WHEN z >= 0 THEN least(1.0, ${erfccSql("xq")} / 2.0)
          |      ELSE 1.0 - least(1.0, ${erfccSql("xq")} / 2.0)
          |    END, 9) AS p
          |  FROM px)
          |SELECT CAST(n AS BIGINT) AS n,
          |  round(mca * 1.0 / n, 9) AS acc_a,
          |  round(mcb * 1.0 / n, 9) AS acc_b,
          |  round(delta, 9) AS delta, 0.02 AS margin,
          |  round(se, 9) AS se, round(z, 9) AS z,
          |  p AS p_value, (p < 0.05) AS non_inferior
          |FROM pv""".stripMargin,

      "q_offpolicy" ->
        """WITH r AS (
          |  SELECT
          |    CAST((CAST(doc_id AS BIGINT) * 13) % 8 AS DOUBLE) / 8.0
          |      AS rw,
          |    1.0 / power(2.0, CAST((CAST(doc_id AS BIGINT) * 7) % 3 + 1
          |      AS DOUBLE)) AS pb,
          |    CAST((CAST(doc_id AS BIGINT) * 11) % 8 + 1 AS DOUBLE)
          |      / 16.0 AS pt
          |  FROM documents),
          |w AS (SELECT rw, pt / pb AS w0, least(pt / pb, 2.0) AS wc
          |      FROM r),
          |ag AS (
          |  SELECT count(*) AS n, sum(rw) AS sr, sum(wc * rw) AS swr,
          |    sum(wc) AS sw, sum(wc * wc) AS sww,
          |    sum((wc * rw) * (wc * rw)) AS swr2,
          |    sum(wc * wc * rw) AS swwr,
          |    sum(CASE WHEN w0 > 2.0 THEN 1 ELSE 0 END) AS nclip
          |  FROM w),
          |es AS (
          |  SELECT *, swr / n AS ips,
          |    CASE WHEN sw > 0 THEN swr / sw ELSE 0.0 END AS snips,
          |    CASE WHEN n > 1 THEN
          |      sqrt(greatest(0.0, (swr2 - swr * swr / n) / (n - 1.0))
          |        / n)
          |    ELSE 0.0 END AS ips_se
          |  FROM ag),
          |e2 AS (
          |  SELECT *, CASE WHEN sw > 0 AND n > 1 THEN
          |      sqrt(greatest(0.0, swr2 - 2.0 * snips * swwr
          |        + snips * snips * sww)) / sw
          |    ELSE 0.0 END AS snips_se
          |  FROM es)
          |SELECT CAST(n AS BIGINT) AS n, round(sr / n, 9)
          |    AS behavior_mean,
          |  round(ips, 9) AS ips, round(ips_se, 9) AS ips_se,
          |  round(ips - 1.959964 * ips_se, 9) AS ips_lo,
          |  round(ips + 1.959964 * ips_se, 9) AS ips_hi,
          |  round(snips, 9) AS snips, round(snips_se, 9) AS snips_se,
          |  round(snips - 1.959964 * snips_se, 9) AS snips_lo,
          |  round(snips + 1.959964 * snips_se, 9) AS snips_hi,
          |  round(CASE WHEN sww > 0 THEN sw * sw / sww ELSE 0.0 END, 9)
          |    AS ess,
          |  round(nclip * 1.0 / n, 9) AS clipped_frac
          |FROM e2""".stripMargin,

      "q_offpolicy_dr" ->
        """WITH r AS (
          |  SELECT
          |    CAST((CAST(doc_id AS BIGINT) * 13) % 8 AS DOUBLE) / 8.0
          |      AS rw,
          |    1.0 / power(2.0, CAST((CAST(doc_id AS BIGINT) * 7) % 3 + 1
          |      AS DOUBLE)) AS pb,
          |    CAST((CAST(doc_id AS BIGINT) * 11) % 8 + 1 AS DOUBLE)
          |      / 16.0 AS pt,
          |    CAST((CAST(doc_id AS BIGINT) * 5) % 8 AS DOUBLE) / 8.0
          |      AS qh,
          |    CAST((CAST(doc_id AS BIGINT) * 3) % 8 AS DOUBLE) / 8.0
          |      AS vh
          |  FROM documents),
          |w AS (SELECT rw, qh, vh, pt / pb AS w0,
          |        least(pt / pb, 2.0) AS wc
          |      FROM r),
          |ag AS (
          |  SELECT count(*) AS n, sum(rw) AS sr, sum(vh) AS sv,
          |    sum(wc * rw) AS swr,
          |    sum(vh + wc * (rw - qh)) AS sdr,
          |    sum(wc) AS sw, sum(wc * wc) AS sww,
          |    sum((wc * rw) * (wc * rw)) AS swr2,
          |    sum((vh + wc * (rw - qh)) * (vh + wc * (rw - qh)))
          |      AS sdr2,
          |    sum(CASE WHEN w0 > 2.0 THEN 1 ELSE 0 END) AS nclip
          |  FROM w),
          |es AS (
          |  SELECT *, swr / n AS ips, sdr / n AS dr,
          |    CASE WHEN n > 1 THEN
          |      sqrt(greatest(0.0, (swr2 - swr * swr / n) / (n - 1.0))
          |        / n)
          |    ELSE 0.0 END AS ips_se,
          |    CASE WHEN n > 1 THEN
          |      sqrt(greatest(0.0, (sdr2 - sdr * sdr / n) / (n - 1.0))
          |        / n)
          |    ELSE 0.0 END AS dr_se
          |  FROM ag)
          |SELECT CAST(n AS BIGINT) AS n,
          |  round(sr / n, 9) AS behavior_mean,
          |  round(sv / n, 9) AS dm,
          |  round(ips, 9) AS ips, round(ips_se, 9) AS ips_se,
          |  round(ips - 1.959964 * ips_se, 9) AS ips_lo,
          |  round(ips + 1.959964 * ips_se, 9) AS ips_hi,
          |  round(dr, 9) AS dr, round(dr_se, 9) AS dr_se,
          |  round(dr - 1.959964 * dr_se, 9) AS dr_lo,
          |  round(dr + 1.959964 * dr_se, 9) AS dr_hi,
          |  round(CASE WHEN sww > 0 THEN sw * sw / sww ELSE 0.0 END, 9)
          |    AS ess,
          |  round(nclip * 1.0 / n, 9) AS clipped_frac
          |FROM es""".stripMargin,

      "q_offpolicy_slice" ->
        """WITH r AS (
          |  SELECT
          |    's' || CAST(CAST(doc_id AS BIGINT) % 3 AS VARCHAR)
          |      AS slice,
          |    CAST((CAST(doc_id AS BIGINT) * 13) % 8 AS DOUBLE) / 8.0
          |      AS rw,
          |    1.0 / power(2.0, CAST((CAST(doc_id AS BIGINT) * 7) % 3 + 1
          |      AS DOUBLE)) AS pb,
          |    CAST((CAST(doc_id AS BIGINT) * 11) % 8 + 1 AS DOUBLE)
          |      / 16.0 AS pt
          |  FROM documents),
          |w AS (SELECT slice, rw, pt / pb AS w0,
          |        least(pt / pb, 2.0) AS wc
          |      FROM r),
          |ag AS (
          |  SELECT slice, count(*) AS n, sum(rw) AS sr,
          |    sum(wc * rw) AS swr, sum(wc) AS sw, sum(wc * wc) AS sww,
          |    sum((wc * rw) * (wc * rw)) AS swr2,
          |    sum(wc * wc * rw) AS swwr,
          |    sum(CASE WHEN w0 > 2.0 THEN 1 ELSE 0 END) AS nclip
          |  FROM w GROUP BY slice),
          |es AS (
          |  SELECT *, swr / n AS ips,
          |    CASE WHEN sw > 0 THEN swr / sw ELSE 0.0 END AS snips,
          |    CASE WHEN n > 1 THEN
          |      sqrt(greatest(0.0, (swr2 - swr * swr / n) / (n - 1.0))
          |        / n)
          |    ELSE 0.0 END AS ips_se
          |  FROM ag),
          |e2 AS (
          |  SELECT *, CASE WHEN sw > 0 AND n > 1 THEN
          |      sqrt(greatest(0.0, swr2 - 2.0 * snips * swwr
          |        + snips * snips * sww)) / sw
          |    ELSE 0.0 END AS snips_se
          |  FROM es)
          |SELECT slice, CAST(n AS BIGINT) AS n, round(sr / n, 9)
          |    AS behavior_mean,
          |  round(ips, 9) AS ips, round(ips_se, 9) AS ips_se,
          |  round(ips - 1.959964 * ips_se, 9) AS ips_lo,
          |  round(ips + 1.959964 * ips_se, 9) AS ips_hi,
          |  round(snips, 9) AS snips, round(snips_se, 9) AS snips_se,
          |  round(snips - 1.959964 * snips_se, 9) AS snips_lo,
          |  round(snips + 1.959964 * snips_se, 9) AS snips_hi,
          |  round(CASE WHEN sww > 0 THEN sw * sw / sww ELSE 0.0 END, 9)
          |    AS ess,
          |  round(nclip * 1.0 / n, 9) AS clipped_frac
          |FROM e2 ORDER BY slice""".stripMargin,

      "q_offpolicy_router" ->
        """WITH r AS (
          |  SELECT
          |    CAST((CAST(doc_id AS BIGINT) * 13) % 8 AS DOUBLE) / 8.0
          |      AS rw,
          |    CAST((CAST(doc_id AS BIGINT) * 11) % 4 AS INT) AS a,
          |    CAST(doc_id AS BIGINT) % 2 AS bprof,
          |    CAST(doc_id AS BIGINT) % 4 AS tprof
          |  FROM documents),
          |p AS (
          |  SELECT rw,
          |    CAST(CASE WHEN bprof = 0 THEN
          |      CASE a WHEN 0 THEN 0.5 WHEN 1 THEN 0.25 ELSE 0.125 END
          |    ELSE
          |      CASE a WHEN 2 THEN 0.25 WHEN 3 THEN 0.5 ELSE 0.125 END
          |    END AS DOUBLE) AS pb,
          |    CAST(CASE WHEN tprof < 2 THEN 0.25
          |    ELSE
          |      CASE a WHEN 0 THEN 0.5 WHEN 3 THEN 0.25 ELSE 0.125 END
          |    END AS DOUBLE) AS pt
          |  FROM r),
          |w AS (SELECT rw, pt / pb AS w0, least(pt / pb, 2.0) AS wc
          |      FROM p),
          |ag AS (
          |  SELECT count(*) AS n, sum(rw) AS sr, sum(wc * rw) AS swr,
          |    sum(wc) AS sw, sum(wc * wc) AS sww,
          |    sum((wc * rw) * (wc * rw)) AS swr2,
          |    sum(wc * wc * rw) AS swwr,
          |    sum(CASE WHEN w0 > 2.0 THEN 1 ELSE 0 END) AS nclip
          |  FROM w),
          |es AS (
          |  SELECT *, swr / n AS ips,
          |    CASE WHEN sw > 0 THEN swr / sw ELSE 0.0 END AS snips,
          |    CASE WHEN n > 1 THEN
          |      sqrt(greatest(0.0, (swr2 - swr * swr / n) / (n - 1.0))
          |        / n)
          |    ELSE 0.0 END AS ips_se
          |  FROM ag),
          |e2 AS (
          |  SELECT *, CASE WHEN sw > 0 AND n > 1 THEN
          |      sqrt(greatest(0.0, swr2 - 2.0 * snips * swwr
          |        + snips * snips * sww)) / sw
          |    ELSE 0.0 END AS snips_se
          |  FROM es)
          |SELECT CAST(n AS BIGINT) AS n, round(sr / n, 9)
          |    AS behavior_mean,
          |  round(ips, 9) AS ips, round(ips_se, 9) AS ips_se,
          |  round(ips - 1.959964 * ips_se, 9) AS ips_lo,
          |  round(ips + 1.959964 * ips_se, 9) AS ips_hi,
          |  round(snips, 9) AS snips, round(snips_se, 9) AS snips_se,
          |  round(snips - 1.959964 * snips_se, 9) AS snips_lo,
          |  round(snips + 1.959964 * snips_se, 9) AS snips_hi,
          |  round(CASE WHEN sww > 0 THEN sw * sw / sww ELSE 0.0 END, 9)
          |    AS ess,
          |  round(nclip * 1.0 / n, 9) AS clipped_frac
          |FROM e2""".stripMargin,

      "q_offpolicy_dr_slice" ->
        """WITH r AS (
          |  SELECT
          |    's' || CAST(CAST(doc_id AS BIGINT) % 3 AS VARCHAR)
          |      AS slice,
          |    CAST((CAST(doc_id AS BIGINT) * 13) % 8 AS DOUBLE) / 8.0
          |      AS rw,
          |    1.0 / power(2.0, CAST((CAST(doc_id AS BIGINT) * 7) % 3 + 1
          |      AS DOUBLE)) AS pb,
          |    CAST((CAST(doc_id AS BIGINT) * 11) % 8 + 1 AS DOUBLE)
          |      / 16.0 AS pt,
          |    CAST((CAST(doc_id AS BIGINT) * 5) % 8 AS DOUBLE) / 8.0
          |      AS qh,
          |    CAST((CAST(doc_id AS BIGINT) * 3) % 8 AS DOUBLE) / 8.0
          |      AS vh
          |  FROM documents),
          |w AS (SELECT slice, rw, qh, vh, pt / pb AS w0,
          |        least(pt / pb, 2.0) AS wc
          |      FROM r),
          |ag AS (
          |  SELECT slice, count(*) AS n, sum(rw) AS sr, sum(vh) AS sv,
          |    sum(wc * rw) AS swr,
          |    sum(vh + wc * (rw - qh)) AS sdr,
          |    sum(wc) AS sw, sum(wc * wc) AS sww,
          |    sum((wc * rw) * (wc * rw)) AS swr2,
          |    sum((vh + wc * (rw - qh)) * (vh + wc * (rw - qh)))
          |      AS sdr2,
          |    sum(CASE WHEN w0 > 2.0 THEN 1 ELSE 0 END) AS nclip
          |  FROM w GROUP BY slice),
          |es AS (
          |  SELECT *, swr / n AS ips, sdr / n AS dr,
          |    CASE WHEN n > 1 THEN
          |      sqrt(greatest(0.0, (swr2 - swr * swr / n) / (n - 1.0))
          |        / n)
          |    ELSE 0.0 END AS ips_se,
          |    CASE WHEN n > 1 THEN
          |      sqrt(greatest(0.0, (sdr2 - sdr * sdr / n) / (n - 1.0))
          |        / n)
          |    ELSE 0.0 END AS dr_se
          |  FROM ag)
          |SELECT slice, CAST(n AS BIGINT) AS n,
          |  round(sr / n, 9) AS behavior_mean,
          |  round(sv / n, 9) AS dm,
          |  round(ips, 9) AS ips, round(ips_se, 9) AS ips_se,
          |  round(ips - 1.959964 * ips_se, 9) AS ips_lo,
          |  round(ips + 1.959964 * ips_se, 9) AS ips_hi,
          |  round(dr, 9) AS dr, round(dr_se, 9) AS dr_se,
          |  round(dr - 1.959964 * dr_se, 9) AS dr_lo,
          |  round(dr + 1.959964 * dr_se, 9) AS dr_hi,
          |  round(CASE WHEN sww > 0 THEN sw * sw / sww ELSE 0.0 END, 9)
          |    AS ess,
          |  round(nclip * 1.0 / n, 9) AS clipped_frac
          |FROM es ORDER BY slice""".stripMargin,

      "q_cuped" ->
        s"""WITH b0 AS (
          |  SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
          |r AS (
          |  SELECT 'arm' || CAST(id % 2 AS VARCHAR) AS arm,
          |    CAST((id * 13) % 16 AS DOUBLE) / 16.0
          |      + CAST(id % 2 AS DOUBLE) * 0.03125 AS y,
          |    CAST((id * 13) % 16 AS DOUBLE) / 16.0 * 0.5
          |      + CAST((id * 29) % 8 AS DOUBLE) / 16.0 AS x
          |  FROM b0),
          |ag AS (
          |  SELECT arm, count(*) AS n, sum(y) AS sy, sum(x) AS sx,
          |    sum(y * y) AS syy, sum(x * x) AS sxx, sum(x * y) AS sxy
          |  FROM r GROUP BY arm),
          |$cupedTailSql""".stripMargin,

      "q_cuped_unit" ->
        s"""WITH b0 AS (
          |  SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
          |r0 AS (
          |  SELECT id % 512 AS unit,
          |    'arm' || CAST((id % 512) % 2 AS VARCHAR) AS arm,
          |    CAST((id * 13) % 16 AS DOUBLE) / 16.0
          |      + CAST((id % 512) % 2 AS DOUBLE) * 0.03125 AS y,
          |    CAST((id * 13) % 16 AS DOUBLE) / 16.0 * 0.5
          |      + CAST((id * 29) % 8 AS DOUBLE) / 16.0 AS x
          |  FROM b0),
          |r AS (
          |  SELECT arm, unit, sum(y) AS y, sum(x) AS x
          |  FROM r0 GROUP BY arm, unit),
          |ag AS (
          |  SELECT arm, count(*) AS n, sum(y) AS sy, sum(x) AS sx,
          |    sum(y * y) AS syy, sum(x * x) AS sxx, sum(x * y) AS sxy
          |  FROM r GROUP BY arm),
          |$cupedTailSql""".stripMargin,

      "q_cuped_slice" ->
        s"""WITH b0 AS (
          |  SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
          |r AS (
          |  SELECT 'g' || CAST(id % 3 AS VARCHAR) AS slice,
          |    'arm' || CAST(id % 2 AS VARCHAR) AS arm,
          |    CAST((id * 13) % 16 AS DOUBLE) / 16.0
          |      + CAST(id % 2 AS DOUBLE) *
          |        (CASE WHEN id % 3 = 0 THEN 0.09375
          |          WHEN id % 3 = 1 THEN 0.03125
          |          ELSE -0.0625 END) AS y,
          |    CAST((id * 13) % 16 AS DOUBLE) / 16.0 * 0.5
          |      + CAST((id * 29) % 8 AS DOUBLE) / 16.0 AS x
          |  FROM b0),
          |ag AS (
          |  SELECT slice, arm, count(*) AS n, sum(y) AS sy,
          |    sum(x) AS sx, sum(y * y) AS syy, sum(x * x) AS sxx,
          |    sum(x * y) AS sxy
          |  FROM r GROUP BY slice, arm),
          |pv AS (
          |  SELECT slice,
          |    coalesce(max(CASE WHEN arm = 'arm0' THEN n END), 0)
          |      AS na,
          |    coalesce(max(CASE WHEN arm = 'arm1' THEN n END), 0)
          |      AS nb,
          |    max(CASE WHEN arm = 'arm0' THEN sy END) AS sya,
          |    max(CASE WHEN arm = 'arm1' THEN sy END) AS syb,
          |    max(CASE WHEN arm = 'arm0' THEN sx END) AS sxa,
          |    max(CASE WHEN arm = 'arm1' THEN sx END) AS sxb,
          |    max(CASE WHEN arm = 'arm0' THEN syy END) AS syya,
          |    max(CASE WHEN arm = 'arm1' THEN syy END) AS syyb,
          |    max(CASE WHEN arm = 'arm0' THEN sxx END) AS sxxa,
          |    max(CASE WHEN arm = 'arm1' THEN sxx END) AS sxxb,
          |    max(CASE WHEN arm = 'arm0' THEN sxy END) AS sxya,
          |    max(CASE WHEN arm = 'arm1' THEN sxy END) AS sxyb
          |  FROM ag GROUP BY slice),
          |th AS (
          |  SELECT *,
          |    na >= 2 AND nb >= 2 AS ok,
          |    (sxxa + sxxb) - (sxa + sxb) * (sxa + sxb) / (na + nb)
          |      AS vden
          |  FROM pv),
          |t2 AS (
          |  SELECT *,
          |    CASE WHEN vden > 0.0 THEN
          |      ((sxya + sxyb) - (sxa + sxb) * (sya + syb)
          |        / (na + nb)) / vden
          |    ELSE 0.0 END AS theta
          |  FROM th),
          |st AS (
          |  SELECT *,
          |    sya / na AS mya, syb / nb AS myb,
          |    sxa / na AS mxa, sxb / nb AS mxb,
          |    (syya - sya * sya / na) / (na - 1.0) AS vya,
          |    (syyb - syb * syb / nb) / (nb - 1.0) AS vyb,
          |    (sxxa - sxa * sxa / na) / (na - 1.0) AS vxa,
          |    (sxxb - sxb * sxb / nb) / (nb - 1.0) AS vxb,
          |    (sxya - sxa * sya / na) / (na - 1.0) AS ca,
          |    (sxyb - sxb * syb / nb) / (nb - 1.0) AS cb
          |  FROM t2),
          |dl AS (
          |  SELECT *,
          |    myb - mya AS delta_raw,
          |    sqrt(greatest(0.0, vya) / na + greatest(0.0, vyb) / nb)
          |      AS se_raw,
          |    (myb - mya) - theta * (mxb - mxa) AS delta,
          |    greatest(0.0, vya - 2.0 * theta * ca
          |      + theta * theta * vxa) AS s2a,
          |    greatest(0.0, vyb - 2.0 * theta * cb
          |      + theta * theta * vxb) AS s2b
          |  FROM st),
          |se1 AS (SELECT *, sqrt(s2a / na + s2b / nb) AS se FROM dl),
          |zz AS (
          |  SELECT *, CASE WHEN se > 0.0 THEN delta / se ELSE 0.0 END
          |    AS z
          |  FROM se1),
          |px AS (SELECT *, abs(z) / sqrt(2.0) AS xq FROM zz),
          |pp AS (
          |  SELECT *,
          |    CASE WHEN se > 0.0 THEN least(1.0, ${erfccSql("xq")})
          |      WHEN delta = 0.0 THEN 1.0 ELSE 0.0 END AS p
          |  FROM px)
          |SELECT slice,
          |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
          |  round(CASE WHEN ok THEN theta ELSE -1.0 END, 9) AS theta,
          |  round(CASE WHEN ok THEN delta_raw ELSE -1.0 END, 9)
          |    AS delta_raw,
          |  round(CASE WHEN ok THEN se_raw ELSE -1.0 END, 9)
          |    AS se_raw,
          |  round(CASE WHEN ok THEN delta ELSE -1.0 END, 9) AS delta,
          |  round(CASE WHEN ok THEN se ELSE -1.0 END, 9) AS se,
          |  round(CASE WHEN ok THEN z ELSE -1.0 END, 9) AS z,
          |  round(CASE WHEN ok THEN p ELSE -1.0 END, 9) AS p_value,
          |  ok AS decidable
          |FROM pp ORDER BY slice""".stripMargin,

      "q_cuped_multi" ->
        s"""WITH b0 AS (
          |  SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
          |r AS (
          |  SELECT 'arm' || CAST(id % 2 AS VARCHAR) AS arm,
          |    CAST((id * 13) % 16 AS DOUBLE) / 16.0 * 0.5
          |      + CAST((id * 7) % 16 AS DOUBLE) / 16.0 * 0.5
          |      + CAST(id % 2 AS DOUBLE) * 0.03125 AS y,
          |    CAST((id * 13) % 16 AS DOUBLE) / 16.0 * 0.5
          |      + CAST((id * 29) % 8 AS DOUBLE) / 16.0 AS x1,
          |    CAST((id * 7) % 16 AS DOUBLE) / 16.0 * 0.5
          |      + CAST((id * 23) % 8 AS DOUBLE) / 16.0 AS x2
          |  FROM b0),
          |ag AS (
          |  SELECT arm, count(*) AS n, sum(y) AS sy,
          |    sum(y * y) AS syy,
          |    sum(x1) AS sx0, sum(x2) AS sx1,
          |    sum(x1 * y) AS sxy0, sum(x2 * y) AS sxy1,
          |    sum(x1 * x1) AS x00, sum(x1 * x2) AS x01,
          |    sum(x2 * x2) AS x11
          |  FROM r GROUP BY arm),
          |pv AS (
          |  SELECT
          |    max(CASE WHEN arm = 'arm0' THEN n END) AS na,
          |    max(CASE WHEN arm = 'arm1' THEN n END) AS nb,
          |    max(CASE WHEN arm = 'arm0' THEN sy END) AS sya,
          |    max(CASE WHEN arm = 'arm1' THEN sy END) AS syb,
          |    max(CASE WHEN arm = 'arm0' THEN syy END) AS syya,
          |    max(CASE WHEN arm = 'arm1' THEN syy END) AS syyb,
          |    max(CASE WHEN arm = 'arm0' THEN sx0 END) AS sx0a,
          |    max(CASE WHEN arm = 'arm1' THEN sx0 END) AS sx0b,
          |    max(CASE WHEN arm = 'arm0' THEN sx1 END) AS sx1a,
          |    max(CASE WHEN arm = 'arm1' THEN sx1 END) AS sx1b,
          |    max(CASE WHEN arm = 'arm0' THEN sxy0 END) AS sxy0a,
          |    max(CASE WHEN arm = 'arm1' THEN sxy0 END) AS sxy0b,
          |    max(CASE WHEN arm = 'arm0' THEN sxy1 END) AS sxy1a,
          |    max(CASE WHEN arm = 'arm1' THEN sxy1 END) AS sxy1b,
          |    max(CASE WHEN arm = 'arm0' THEN x00 END) AS x00a,
          |    max(CASE WHEN arm = 'arm1' THEN x00 END) AS x00b,
          |    max(CASE WHEN arm = 'arm0' THEN x01 END) AS x01a,
          |    max(CASE WHEN arm = 'arm1' THEN x01 END) AS x01b,
          |    max(CASE WHEN arm = 'arm0' THEN x11 END) AS x11a,
          |    max(CASE WHEN arm = 'arm1' THEN x11 END) AS x11b
          |  FROM ag),
          |sv AS (
          |  SELECT *,
          |    (x00a + x00b) - (sx0a + sx0b) * (sx0a + sx0b)
          |      / (na + nb) AS s11,
          |    (x01a + x01b) - (sx0a + sx0b) * (sx1a + sx1b)
          |      / (na + nb) AS s12,
          |    (x11a + x11b) - (sx1a + sx1b) * (sx1a + sx1b)
          |      / (na + nb) AS s22,
          |    (sxy0a + sxy0b) - (sx0a + sx0b) * (sya + syb)
          |      / (na + nb) AS b1v,
          |    (sxy1a + sxy1b) - (sx1a + sx1b) * (sya + syb)
          |      / (na + nb) AS b2v
          |  FROM pv),
          |el AS (
          |  SELECT *, s22 - (s12 / s11) * s12 AS s22p,
          |    b2v - (s12 / s11) * b1v AS b2p
          |  FROM sv),
          |tt AS (SELECT *, b2p / s22p AS th2 FROM el),
          |th AS (SELECT *, (b1v - s12 * th2) / s11 AS th1 FROM tt),
          |st AS (
          |  SELECT *,
          |    sya / na AS mya, syb / nb AS myb,
          |    (syya - sya * sya / na) / (na - 1.0) AS vya,
          |    (syyb - syb * syb / nb) / (nb - 1.0) AS vyb,
          |    sx0a / na AS m0a, sx0b / nb AS m0b,
          |    sx1a / na AS m1a, sx1b / nb AS m1b,
          |    (sxy0a - sx0a * sya / na) / (na - 1.0) AS cy0a,
          |    (sxy0b - sx0b * syb / nb) / (nb - 1.0) AS cy0b,
          |    (sxy1a - sx1a * sya / na) / (na - 1.0) AS cy1a,
          |    (sxy1b - sx1b * syb / nb) / (nb - 1.0) AS cy1b,
          |    (x00a - sx0a * sx0a / na) / (na - 1.0) AS v00a,
          |    (x00b - sx0b * sx0b / nb) / (nb - 1.0) AS v00b,
          |    (x01a - sx0a * sx1a / na) / (na - 1.0) AS v01a,
          |    (x01b - sx0b * sx1b / nb) / (nb - 1.0) AS v01b,
          |    (x11a - sx1a * sx1a / na) / (na - 1.0) AS v11a,
          |    (x11b - sx1b * sx1b / nb) / (nb - 1.0) AS v11b
          |  FROM th),
          |dl AS (
          |  SELECT *,
          |    myb - mya AS delta_raw,
          |    sqrt(greatest(0.0, vya) / na + greatest(0.0, vyb) / nb)
          |      AS se_raw,
          |    (myb - mya) - (th1 * (m0b - m0a) + th2 * (m1b - m1a))
          |      AS delta,
          |    greatest(0.0, vya - 2.0 * (th1 * cy0a + th2 * cy1a)
          |      + (th1 * th1 * v00a + th1 * th2 * v01a
          |        + th2 * th1 * v01a + th2 * th2 * v11a)) AS s2a,
          |    greatest(0.0, vyb - 2.0 * (th1 * cy0b + th2 * cy1b)
          |      + (th1 * th1 * v00b + th1 * th2 * v01b
          |        + th2 * th1 * v01b + th2 * th2 * v11b)) AS s2b
          |  FROM st),
          |se1 AS (
          |  SELECT *, sqrt(s2a / na + s2b / nb) AS se FROM dl),
          |zz AS (
          |  SELECT *, CASE WHEN se > 0.0 THEN delta / se ELSE 0.0 END
          |    AS z
          |  FROM se1),
          |px AS (SELECT *, abs(z) / sqrt(2.0) AS xq FROM zz),
          |pp AS (
          |  SELECT *,
          |    round(CASE WHEN se > 0.0 THEN
          |        least(1.0, ${erfccSql("xq")})
          |      WHEN delta = 0.0 THEN 1.0 ELSE 0.0 END, 9) AS p
          |  FROM px)
          |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
          |  2 AS k, round(th1, 9) AS theta_1, round(th2, 9) AS theta_2,
          |  round(delta_raw, 9) AS delta_raw,
          |  round(se_raw, 9) AS se_raw,
          |  round(delta, 9) AS delta, round(se, 9) AS se,
          |  round(z, 9) AS z, p AS p_value,
          |  round(delta - 1.959964 * se, 9) AS ci_lo,
          |  round(delta + 1.959964 * se, 9) AS ci_hi,
          |  round(CASE WHEN se_raw > 0.0 THEN
          |      1.0 - (se * se) / (se_raw * se_raw)
          |    ELSE 0.0 END, 9) AS var_reduction,
          |  (p < 0.05) AS significant
          |FROM pp""".stripMargin,

      "q_ab_e2e" ->
        s"""WITH b0 AS (
          |  SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
          |r AS (
          |  SELECT 'arm' || CAST(id % 2 AS VARCHAR) AS arm,
          |    CAST((id * 13) % 16 AS DOUBLE) / 16.0
          |      + CAST(id % 2 AS DOUBLE) * 0.03125 AS y,
          |    CAST((id * 13) % 16 AS DOUBLE) / 16.0 * 0.5
          |      + CAST((id * 29) % 8 AS DOUBLE) / 16.0 AS x,
          |    CAST(((id * 37) % 97) % 2 AS INT) AS succ,
          |    'g' || CAST((id % 4) * (id % 3) AS VARCHAR) AS slice
          |  FROM b0),
          |ag AS (
          |  SELECT arm, count(*) AS n, sum(y) AS sy, sum(x) AS sx,
          |    sum(y * y) AS syy, sum(x * x) AS sxx, sum(x * y) AS sxy
          |  FROM r GROUP BY arm),
          |$cupedCtesSql,
          |g1 AS (SELECT *, CAST(na + nb AS DOUBLE) AS nt FROM pp),
          |g2 AS (
          |  SELECT *,
          |    (na - 0.5 * nt) * (na - 0.5 * nt) / (0.5 * nt)
          |    + (nb - 0.5 * nt) * (nb - 0.5 * nt) / (0.5 * nt)
          |      AS chi2
          |  FROM g1),
          |g3 AS (
          |  SELECT *, round(${chi2PSql("chi2", 1)}, 9) AS srmp
          |  FROM g2),
          |g4 AS (
          |  SELECT *,
          |    (syya + syyb - sya * sya / na - syb * syb / nb)
          |      / (na + nb - 2.0) AS s2p
          |  FROM g3),
          |g5 AS (
          |  SELECT *, CASE WHEN s2p > 0.0 THEN
          |    s2p * (CAST(1.0 AS DOUBLE) / na
          |      + CAST(1.0 AS DOUBLE) / nb) END AS vv
          |  FROM g4),
          |g6 AS (
          |  SELECT *, CASE WHEN s2p > 0.0 THEN
          |    round(0.5 * ln(vv / (vv + 0.0625))
          |      + (delta_raw * delta_raw * 0.0625)
          |        / (2.0 * vv * (vv + 0.0625)), 9) END AS lb
          |  FROM g5),
          |eper AS (
          |  SELECT slice, count(*) AS n,
          |    sum(CAST(succ AS DOUBLE)) AS s
          |  FROM r GROUP BY slice),
          |etot AS (
          |  SELECT count(*) AS k, sum(n) AS nn, sum(s) AS ss
          |  FROM eper),
          |epre AS (
          |  SELECT slice, n, s,
          |    SUM(s / n) OVER w AS cp,
          |    SUM((s / n) * (s / n)) OVER w AS cp2,
          |    SUM(CAST(1.0 AS DOUBLE) / n) OVER w AS cinv,
          |    ROW_NUMBER() OVER (ORDER BY slice) AS rn
          |  FROM eper
          |  WINDOW w AS (ORDER BY slice ROWS BETWEEN UNBOUNDED
          |    PRECEDING AND CURRENT ROW)),
          |est AS (
          |  SELECT t.k, t.ss / t.nn AS pbar, l.cp, l.cp2, l.cinv
          |  FROM etot t, epre l WHERE l.rn = t.k),
          |efx AS (
          |  SELECT k, pbar, cp, cp2, cinv, cp / k AS meanp,
          |    pbar * (1.0 - pbar) AS pw
          |  FROM est),
          |etu AS (
          |  SELECT *,
          |    greatest(0.0, (cp2 - k * meanp * meanp) / (k - 1.0)
          |      - pw * cinv / k) AS tau2
          |  FROM efx)
          |SELECT p.slice, CAST(p.n AS BIGINT) AS n,
          |  CAST(p.s AS BIGINT) AS successes,
          |  round(p.s / p.n, 9) AS rate,
          |  round(CASE WHEN t.tau2 + t.pw / p.n > 0.0 THEN
          |      t.tau2 / (t.tau2 + t.pw / p.n)
          |    ELSE 0.0 END, 9) AS shrink_factor,
          |  round(t.pbar + CASE WHEN t.tau2 + t.pw / p.n > 0.0 THEN
          |      t.tau2 / (t.tau2 + t.pw / p.n)
          |    ELSE 0.0 END * (p.s / p.n - t.pbar), 9) AS shrunk_rate,
          |  CAST(g.na + g.nb AS BIGINT) AS n_total,
          |  round(g.chi2, 9) AS srm_chi2, g.srmp AS srm_p,
          |  (g.srmp < 0.001) AS srm,
          |  round(g.theta, 9) AS theta,
          |  round(g.delta_raw, 9) AS delta_raw,
          |  round(g.delta, 9) AS delta, round(g.se, 9) AS se,
          |  round(g.z, 9) AS z, g.p AS p_value,
          |  round(g.delta - 1.959964 * g.se, 9) AS ci_lo,
          |  round(g.delta + 1.959964 * g.se, 9) AS ci_hi,
          |  round(CASE WHEN g.se_raw > 0.0 THEN
          |      1.0 - (g.se * g.se) / (g.se_raw * g.se_raw)
          |    ELSE 0.0 END, 9) AS var_reduction,
          |  (g.p < 0.05) AS significant,
          |  round(CASE WHEN g.s2p > 0.0 THEN g.s2p ELSE -1.0 END, 9)
          |    AS seq_var,
          |  coalesce(g.lb, -1.0) AS seq_log_lambda,
          |  coalesce(round(least(1.0, exp(0.0 - g.lb)), 9), -1.0)
          |    AS seq_p,
          |  coalesce(g.lb >= round(ln(1.0 / 0.05), 9), false)
          |    AS seq_reject,
          |  (g.s2p > 0.0) AS seq_decidable
          |FROM eper p, etu t, g6 g ORDER BY p.slice""".stripMargin,

      "q_ratio_delta" ->
        s"""WITH b0 AS (
          |  SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
          |r0 AS (
          |  SELECT id % 512 AS unit,
          |    'arm' || CAST((id % 512) % 2 AS VARCHAR) AS arm,
          |    CAST((id * 13) % 8 AS DOUBLE) / 8.0
          |      + CAST((id % 512) % 2 AS DOUBLE) * 0.0625 AS y,
          |    CAST(1 + (id * 7) % 4 AS DOUBLE) AS d
          |  FROM b0),
          |u AS (
          |  SELECT arm, unit, sum(y) AS yu, sum(d) AS nu
          |  FROM r0 GROUP BY arm, unit),
          |ag AS (
          |  SELECT arm, count(*) AS n, sum(yu) AS sy, sum(nu) AS sn,
          |    sum(yu * yu) AS syy, sum(nu * nu) AS snn,
          |    sum(yu * nu) AS syn
          |  FROM u GROUP BY arm),
          |pv AS (
          |  SELECT
          |    max(CASE WHEN arm = 'arm0' THEN n END) AS na,
          |    max(CASE WHEN arm = 'arm1' THEN n END) AS nb,
          |    max(CASE WHEN arm = 'arm0' THEN sy END) AS sya,
          |    max(CASE WHEN arm = 'arm1' THEN sy END) AS syb,
          |    max(CASE WHEN arm = 'arm0' THEN sn END) AS sna,
          |    max(CASE WHEN arm = 'arm1' THEN sn END) AS snb,
          |    max(CASE WHEN arm = 'arm0' THEN syy END) AS syya,
          |    max(CASE WHEN arm = 'arm1' THEN syy END) AS syyb,
          |    max(CASE WHEN arm = 'arm0' THEN snn END) AS snna,
          |    max(CASE WHEN arm = 'arm1' THEN snn END) AS snnb,
          |    max(CASE WHEN arm = 'arm0' THEN syn END) AS syna,
          |    max(CASE WHEN arm = 'arm1' THEN syn END) AS synb
          |  FROM ag),
          |s1 AS (
          |  SELECT *,
          |    sya / sna AS ra, syb / snb AS rb,
          |    sna / na AS ma, snb / nb AS mb,
          |    (syya - sya * sya / na) / (na - 1.0) AS vya,
          |    (syyb - syb * syb / nb) / (nb - 1.0) AS vyb,
          |    (snna - sna * sna / na) / (na - 1.0) AS vna,
          |    (snnb - snb * snb / nb) / (nb - 1.0) AS vnb,
          |    (syna - sya * sna / na) / (na - 1.0) AS ca,
          |    (synb - syb * snb / nb) / (nb - 1.0) AS cb
          |  FROM pv),
          |s2 AS (
          |  SELECT *,
          |    greatest(0.0, vya - 2.0 * ra * ca + ra * ra * vna)
          |      / (na * ma * ma) AS va,
          |    greatest(0.0, vyb - 2.0 * rb * cb + rb * rb * vnb)
          |      / (nb * mb * mb) AS vb,
          |    rb - ra AS delta
          |  FROM s1),
          |s3 AS (SELECT *, sqrt(va + vb) AS se FROM s2),
          |s4 AS (
          |  SELECT *, CASE WHEN se > 0.0 THEN delta / se ELSE 0.0 END
          |    AS z
          |  FROM s3),
          |px AS (SELECT *, abs(z) / sqrt(2.0) AS xq FROM s4),
          |pp AS (
          |  SELECT *,
          |    round(CASE WHEN se > 0.0 THEN
          |        least(1.0, ${erfccSql("xq")})
          |      WHEN delta = 0.0 THEN 1.0 ELSE 0.0 END, 9) AS p
          |  FROM px)
          |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
          |  round(ra, 9) AS ratio_a, round(rb, 9) AS ratio_b,
          |  round(delta, 9) AS delta, round(se, 9) AS se,
          |  round(z, 9) AS z, p AS p_value,
          |  round(delta - 1.959964 * se, 9) AS ci_lo,
          |  round(delta + 1.959964 * se, 9) AS ci_hi,
          |  (p < 0.05) AS significant
          |FROM pp""".stripMargin,

      "q_eb_rates" ->
        """WITH b0 AS (
          |  SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
          |r AS (
          |  SELECT 'g' || CAST((id % 4) * (id % 3) AS VARCHAR)
          |      AS slice,
          |    CAST(((id * 37) % 97) % 2 AS INT) AS succ
          |  FROM b0),
          |per AS (
          |  SELECT slice, count(*) AS n, sum(CAST(succ AS DOUBLE)) AS s
          |  FROM r GROUP BY slice),
          |tot AS (
          |  SELECT count(*) AS k, sum(n) AS nn, sum(s) AS ss FROM per),
          |pre AS (
          |  SELECT slice, n, s,
          |    SUM(s / n) OVER w AS cp,
          |    SUM((s / n) * (s / n)) OVER w AS cp2,
          |    SUM(CAST(1.0 AS DOUBLE) / n) OVER w AS cinv,
          |    ROW_NUMBER() OVER (ORDER BY slice) AS rn
          |  FROM per
          |  WINDOW w AS (ORDER BY slice ROWS BETWEEN UNBOUNDED
          |    PRECEDING AND CURRENT ROW)),
          |st AS (
          |  SELECT t.k, t.ss / t.nn AS pbar, l.cp, l.cp2, l.cinv
          |  FROM tot t, pre l WHERE l.rn = t.k),
          |fx AS (
          |  SELECT k, pbar, cp, cp2, cinv, cp / k AS meanp,
          |    pbar * (1.0 - pbar) AS pw
          |  FROM st),
          |tu AS (
          |  SELECT *,
          |    greatest(0.0, (cp2 - k * meanp * meanp) / (k - 1.0)
          |      - pw * cinv / k) AS tau2
          |  FROM fx)
          |SELECT p.slice, CAST(p.n AS BIGINT) AS n,
          |  CAST(p.s AS BIGINT) AS successes,
          |  round(p.s / p.n, 9) AS rate,
          |  round(CASE WHEN t.tau2 + t.pw / p.n > 0.0 THEN
          |      t.tau2 / (t.tau2 + t.pw / p.n)
          |    ELSE 0.0 END, 9) AS shrink_factor,
          |  round(t.pbar + CASE WHEN t.tau2 + t.pw / p.n > 0.0 THEN
          |      t.tau2 / (t.tau2 + t.pw / p.n)
          |    ELSE 0.0 END * (p.s / p.n - t.pbar), 9) AS shrunk_rate
          |FROM per p, tu t ORDER BY p.slice""".stripMargin,

      "q_judge_bias" ->
        s"""WITH b0 AS (
          |  SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
          |r AS (
          |  SELECT
          |    CASE WHEN (id * 13) % 16 <
          |        CASE WHEN id % 2 = 0 THEN 9 ELSE 7 END
          |      THEN 'a'
          |    WHEN (id * 13) % 16 <
          |        (CASE WHEN id % 2 = 0 THEN 9 ELSE 7 END) + 2
          |      THEN 'tie' ELSE 'b' END AS winner,
          |    (id % 2 = 0) AS fst,
          |    CAST((id * 5) % 64 AS DOUBLE) AS la,
          |    CAST((id * 11) % 64 AS DOUBLE) AS lb
          |  FROM b0),
          |x AS (
          |  SELECT winner, fst, la - lb AS d,
          |    CASE WHEN winner = 'a' THEN 1.0
          |      WHEN winner = 'tie' THEN 0.5 ELSE 0.0 END AS aw
          |  FROM r),
          |ag AS (
          |  SELECT count(*) AS n,
          |    sum(CASE WHEN fst THEN 1 ELSE 0 END) AS n1,
          |    sum(CASE WHEN fst AND winner = 'a' THEN 1 ELSE 0 END)
          |      AS w1,
          |    sum(CASE WHEN NOT fst AND winner = 'a' THEN 1 ELSE 0
          |      END) AS w2,
          |    sum(CASE WHEN winner = 'tie' THEN 1 ELSE 0 END) AS t,
          |    sum(CASE WHEN fst AND winner = 'tie' THEN 1 ELSE 0
          |      END) AS t1,
          |    sum(aw) AS sw, sum(aw * aw) AS sww,
          |    sum(d) AS sd, sum(d * d) AS sdd,
          |    sum(aw * d) AS swd
          |  FROM x),
          |st AS (
          |  SELECT *, n - n1 AS n2, t - t1 AS t2,
          |    n1 - t1 AS nt1, n - n1 - (t - t1) AS nt2,
          |    (CAST(w1 + w2 AS DOUBLE) + 0.5 * CAST(t AS DOUBLE))
          |      / CAST(n AS DOUBLE) AS wina,
          |    (CAST(w1 AS DOUBLE) + 0.5 * CAST(t1 AS DOUBLE))
          |      / CAST(n1 AS DOUBLE) AS pf
          |  FROM ag),
          |s2 AS (
          |  SELECT *,
          |    (CAST(w2 AS DOUBLE) + 0.5 * CAST(t2 AS DOUBLE))
          |      / CAST(n2 AS DOUBLE) AS ps,
          |    CAST(w1 AS DOUBLE) / nt1 AS pfb,
          |    CAST(w2 AS DOUBLE) / nt2 AS psb,
          |    CAST(w1 + w2 AS DOUBLE) / (nt1 + nt2) AS wnt
          |  FROM st),
          |s3 AS (
          |  SELECT *, pfb - psb AS effect,
          |    sqrt(wnt * (1.0 - wnt)
          |      * (CAST(1.0 AS DOUBLE) / nt1 + CAST(1.0 AS DOUBLE)
          |        / nt2)) AS sep,
          |    sww - sw * sw / n AS varw,
          |    sdd - sd * sd / n AS vard
          |  FROM s2),
          |s4 AS (
          |  SELECT *,
          |    CASE WHEN sep > 0.0 THEN effect / sep ELSE 0.0 END AS zp,
          |    CASE WHEN varw > 0.0 AND vard > 0.0 THEN
          |      (swd - sw * sd / n) / sqrt(varw * vard)
          |    ELSE 0.0 END AS lr
          |  FROM s3),
          |s5 AS (
          |  SELECT *,
          |    CASE WHEN n > 2 AND lr > -1.0 AND lr < 1.0
          |        AND lr <> 0.0 THEN
          |      lr * sqrt(n - 2.0) / sqrt(1.0 - lr * lr)
          |    ELSE 0.0 END AS zl
          |  FROM s4),
          |px AS (
          |  SELECT *, abs(zp) / sqrt(2.0) AS xq,
          |    abs(zl) / sqrt(2.0) AS xl
          |  FROM s5),
          |pp AS (
          |  SELECT *,
          |    round(CASE WHEN sep > 0.0 THEN
          |        least(1.0, ${erfccSql("xq")})
          |      WHEN effect = 0.0 THEN 1.0 ELSE 0.0 END, 9) AS p_pos,
          |    round(CASE WHEN n > 2 AND lr > -1.0 AND lr < 1.0
          |        AND lr <> 0.0 THEN
          |        least(1.0, ${erfccSql("xl")})
          |      ELSE 1.0 END, 9) AS p_len
          |  FROM px)
          |SELECT CAST(n AS BIGINT) AS n, round(wina, 9) AS win_a,
          |  round(pf, 9) AS win_a_first, round(ps, 9) AS win_a_second,
          |  round(effect, 9) AS position_effect,
          |  round(zp, 9) AS position_z, p_pos AS position_p,
          |  round((pf + ps) / 2.0, 9) AS debiased_win_a,
          |  round(lr, 9) AS len_r, round(zl, 9) AS len_z,
          |  p_len AS len_p,
          |  round(CAST(t AS DOUBLE) / n, 9) AS tie_rate
          |FROM pp""".stripMargin,

      "q_power_slice" ->
        """WITH b0 AS (
          |  SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
          |r AS (
          |  SELECT 'g' || CAST((id % 4) * (id % 3) AS VARCHAR)
          |      AS slice,
          |    CAST(((id * 37) % 97) % 2 AS INT) AS succ
          |  FROM b0),
          |per AS (
          |  SELECT slice, count(*) AS n, sum(CAST(succ AS DOUBLE)) AS s
          |  FROM r GROUP BY slice),
          |fx AS (
          |  SELECT slice, n, s, s / n AS p0, s / n + 0.05 AS p1
          |  FROM per),
          |pb AS (SELECT *, (p0 + p1) / 2.0 AS pbar FROM fx),
          |ee AS (
          |  SELECT *,
          |    CASE WHEN p1 <= 1.0 THEN
          |      1.959964 * sqrt(2.0 * pbar * (1.0 - pbar))
          |        + 0.841621234 * sqrt(p0 * (1.0 - p0)
          |          + p1 * (1.0 - p1)) END AS e
          |  FROM pb),
          |na AS (
          |  SELECT *, CASE WHEN p1 <= 1.0 THEN
          |    e * e / (CAST(0.05 AS DOUBLE)
          |      * CAST(0.05 AS DOUBLE)) END AS narm
          |  FROM ee)
          |SELECT slice, CAST(n AS BIGINT) AS n,
          |  CAST(s AS BIGINT) AS successes,
          |  round(p0, 9) AS rate,
          |  round(CASE WHEN p1 <= 1.0 THEN p1 ELSE -1.0 END, 9)
          |    AS target_rate,
          |  round(CASE WHEN p1 <= 1.0 THEN narm ELSE -1.0 END, 9)
          |    AS n_per_arm,
          |  round(CASE WHEN p1 <= 1.0 THEN 2.0 * narm / n
          |    ELSE -1.0 END, 9) AS multiple_needed
          |FROM na ORDER BY slice""".stripMargin,

      "q_srm" ->
        s"""WITH b0 AS (
          |  SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
          |r AS (
          |  SELECT CASE WHEN ((id * 37) % 97) % 16 < 7 THEN 'a'
          |    WHEN ((id * 37) % 97) % 16 < 11 THEN 'b'
          |    WHEN ((id * 37) % 97) % 16 < 13 THEN 'c'
          |    ELSE 'd' END AS arm
          |  FROM b0),
          |ag AS (
          |  SELECT count(*) AS n,
          |    sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS c0,
          |    sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS c1,
          |    sum(CASE WHEN arm = 'c' THEN 1 ELSE 0 END) AS c2,
          |    sum(CASE WHEN arm = 'd' THEN 1 ELSE 0 END) AS c3
          |  FROM r),
          |st AS (
          |  SELECT *,
          |    (CAST(c0 AS DOUBLE) - 0.5 * CAST(n AS DOUBLE))
          |      * (CAST(c0 AS DOUBLE) - 0.5 * CAST(n AS DOUBLE))
          |      / (0.5 * CAST(n AS DOUBLE))
          |    + (CAST(c1 AS DOUBLE) - 0.25 * CAST(n AS DOUBLE))
          |      * (CAST(c1 AS DOUBLE) - 0.25 * CAST(n AS DOUBLE))
          |      / (0.25 * CAST(n AS DOUBLE))
          |    + (CAST(c2 AS DOUBLE) - 0.125 * CAST(n AS DOUBLE))
          |      * (CAST(c2 AS DOUBLE) - 0.125 * CAST(n AS DOUBLE))
          |      / (0.125 * CAST(n AS DOUBLE))
          |    + (CAST(c3 AS DOUBLE) - 0.125 * CAST(n AS DOUBLE))
          |      * (CAST(c3 AS DOUBLE) - 0.125 * CAST(n AS DOUBLE))
          |      / (0.125 * CAST(n AS DOUBLE)) AS chi2
          |  FROM ag),
          |pp AS (
          |  SELECT *, round(${chi2PSql("chi2", 3)}, 9) AS p FROM st),
          |arms AS (
          |  SELECT 'a' AS arm, c0 AS cnt, CAST(0.5 AS DOUBLE) AS w
          |    FROM pp
          |  UNION ALL SELECT 'b', c1, CAST(0.25 AS DOUBLE) FROM pp
          |  UNION ALL SELECT 'c', c2, CAST(0.125 AS DOUBLE) FROM pp
          |  UNION ALL SELECT 'd', c3, CAST(0.125 AS DOUBLE) FROM pp)
          |SELECT a.arm, CAST(a.cnt AS BIGINT) AS n_arm,
          |  round(a.w * CAST(g.n AS DOUBLE), 9) AS expected_n,
          |  round(CAST(a.cnt AS DOUBLE) / g.n, 9) AS share,
          |  round(a.w, 9) AS expected_share,
          |  CAST(g.n AS BIGINT) AS n, round(g.chi2, 9) AS chi2,
          |  3 AS df, g.p AS p_value, (g.p < 0.001) AS srm
          |FROM arms a, pp g ORDER BY a.arm""".stripMargin,

      "q_proper_scores_mc" ->
        """WITH d AS (
          |  SELECT (CAST(doc_id AS BIGINT) * 13) % 64 AS a,
          |    (CAST(doc_id AS BIGINT) * 29) % 64 AS b,
          |    CAST(((CAST(doc_id AS BIGINT) * 37) % 97) % 3 AS INT) AS y
          |  FROM documents),
          |e AS (
          |  SELECT 0 AS cls, CAST(a AS DOUBLE) / 128.0 AS p, y FROM d
          |  UNION ALL
          |  SELECT 1, CAST(b AS DOUBLE) / 128.0, y FROM d
          |  UNION ALL
          |  SELECT 2, CAST(128 - a - b AS DOUBLE) / 128.0, y FROM d),
          |x AS (
          |  SELECT cls, p, CASE WHEN cls = y THEN 1.0 ELSE 0.0 END AS ind,
          |    LEAST(GREATEST(p, 1e-15), 1.0 - 1e-15) AS pc,
          |    LEAST(CAST(FLOOR(p * 8) AS INT), 7) AS bin
          |  FROM e),
          |bi AS (
          |  SELECT cls, bin, count(*) AS n, sum(ind) AS sy, sum(p) AS sp,
          |    sum((p - ind) * (p - ind)) AS sq,
          |    sum(CASE WHEN ind = 1.0 THEN -ln(pc) ELSE 0.0 END) AS sll
          |  FROM x GROUP BY 1, 2),
          |pc2 AS (
          |  SELECT cls, sum(n) AS nall, sum(sy) AS ntrue,
          |    sum(sll) AS ll, sum(sq) AS sq,
          |    sum((sp / n - sy / n) * (sp / n - sy / n) * n) AS rel,
          |    sum(sy * sy / n) AS resraw
          |  FROM bi GROUP BY 1),
          |cr AS (
          |  SELECT cls, CAST(ntrue AS BIGINT) AS n,
          |    round(CASE WHEN ntrue > 0 THEN ll / ntrue ELSE 0.0 END, 9)
          |      AS log_loss,
          |    round(sq / nall, 9) AS brier,
          |    round(rel / nall, 9) AS reliability,
          |    round((resraw - ntrue * ntrue / nall) / nall, 9)
          |      AS resolution,
          |    round((ntrue / nall) * (1.0 - ntrue / nall), 9)
          |      AS uncertainty
          |  FROM pc2),
          |sm AS (
          |  SELECT -1 AS cls, CAST(max(nall) AS BIGINT) AS n,
          |    round(sum(ll) / max(nall), 9) AS log_loss,
          |    round(sum(sq) / max(nall), 9) AS brier,
          |    round(sum(rel) / max(nall), 9) AS reliability,
          |    round(sum(resraw - ntrue * ntrue / nall) / max(nall), 9)
          |      AS resolution,
          |    round(sum((ntrue / nall) * (1.0 - ntrue / nall)), 9)
          |      AS uncertainty
          |  FROM pc2)
          |SELECT * FROM cr UNION ALL SELECT * FROM sm
          |ORDER BY cls""".stripMargin,

      "q_alpha_ratio" ->
        """WITH r AS (
          |  SELECT CAST(doc_id AS BIGINT) % 100 AS item,
          |    CAST((CAST(doc_id AS BIGINT) * 7) % 5 + 1 AS DOUBLE) AS v
          |  FROM documents
          |  WHERE (CAST(doc_id AS BIGINT) * 11) % 7 <> 0),
          |cnt AS (SELECT item, v, count(*) AS n FROM r GROUP BY 1, 2),
          |pi AS (SELECT item, sum(n) AS m FROM cnt GROUP BY 1
          |       HAVING sum(n) >= 2),
          |us AS (SELECT cnt.item, cnt.v, cnt.n, pi.m
          |       FROM cnt JOIN pi USING (item)),
          |pr AS (
          |  SELECT a.item, max(a.m) AS m,
          |    sum(a.n * b.n * (CASE WHEN a.v = b.v THEN 0.0
          |      ELSE ((a.v - b.v) / (a.v + b.v))
          |         * ((a.v - b.v) / (a.v + b.v)) END)) AS pairsum
          |  FROM us a JOIN us b ON a.item = b.item
          |  GROUP BY 1),
          |do2 AS (
          |  SELECT count(*) AS n_items, sum(m) AS nr,
          |    sum(pairsum / CAST(m - 1 AS DOUBLE)) AS do_num
          |  FROM pr),
          |vl AS (SELECT v, sum(n) AS nv FROM us GROUP BY 1),
          |de2 AS (
          |  SELECT sum(a.nv * b.nv * (CASE WHEN a.v = b.v THEN 0.0
          |    ELSE ((a.v - b.v) / (a.v + b.v))
          |       * ((a.v - b.v) / (a.v + b.v)) END)) AS s
          |  FROM vl a CROSS JOIN vl b),
          |fin AS (
          |  SELECT n_items, nr, do_num / nr AS d_o,
          |    (SELECT s FROM de2)
          |      / (CAST(nr AS DOUBLE) * (nr - 1.0)) AS d_e
          |  FROM do2)
          |SELECT CAST(n_items AS BIGINT) AS n_items,
          |  CAST(nr AS BIGINT) AS n_ratings,
          |  round(d_o, 9) AS d_o, round(d_e, 9) AS d_e,
          |  round(CASE WHEN d_e <= 0.0 THEN 1.0
          |        ELSE 1.0 - d_o / d_e END, 9) AS alpha
          |FROM fin""".stripMargin,

      "q_auc_ci" ->
        """WITH r AS (
          |  SELECT ((CAST(doc_id AS BIGINT) * 13) % 101) / 100.0 AS s,
          |    CAST(((CAST(doc_id AS BIGINT) * 37) % 97) % 2 AS DOUBLE)
          |      AS y
          |  FROM documents),
          |ps AS (
          |  SELECT s, sum(y) AS np, sum(1 - y) AS nn FROM r GROUP BY 1),
          |cw AS (
          |  SELECT np, nn,
          |    coalesce(sum(nn) OVER (ORDER BY s
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS cum
          |  FROM ps),
          |au AS (
          |  SELECT CAST(sum(np) AS BIGINT) AS n_pos,
          |    CAST(sum(nn) AS BIGINT) AS n_neg,
          |    round(sum(np * (cum + nn / 2)) / (sum(np) * sum(nn)), 9)
          |      AS a
          |  FROM cw),
          |hm AS (
          |  SELECT *, a / (2.0 - a) AS q1,
          |    2.0 * a * a / (1.0 + a) AS q2
          |  FROM au),
          |se AS (
          |  SELECT *,
          |    sqrt((a * (1.0 - a) + (n_pos - 1) * (q1 - a * a)
          |      + (n_neg - 1) * (q2 - a * a))
          |      / (CAST(n_pos AS DOUBLE) * n_neg)) AS s
          |  FROM hm)
          |SELECT n_pos, n_neg, a AS auc, round(s, 9) AS se,
          |  round(greatest(0.0, a - 1.959964 * s), 9) AS ci_lo,
          |  round(least(1.0, a + 1.959964 * s), 9) AS ci_hi
          |FROM se""".stripMargin,

      "q_delong" ->
        s"""WITH r AS (
          |  SELECT CAST(((CAST(doc_id AS BIGINT) * 37) % 97) % 2
          |      AS DOUBLE) AS y,
          |    ((CAST(doc_id AS BIGINT) * 13) % 101) / 100.0 AS va,
          |    ((CAST(doc_id AS BIGINT) * 29) % 53) / 64.0 AS vb
          |  FROM documents),
          |$deLongCtesSql,
          |sef AS (
          |  SELECT *, CASE WHEN v <= 0.0 THEN 0.0 ELSE sqrt(v) END AS sev
          |  FROM px)
          |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
          |  round(aA, 9) AS auc_a, round(aB, 9) AS auc_b,
          |  round(delta, 9) AS delta,
          |  round(sev, 9) AS se,
          |  round(z, 9) AS z,
          |  round(CASE WHEN v <= 0.0 THEN 1.0
          |        ELSE least(1.0, ${erfccSql("xq")}) END, 9) AS p_value,
          |  round(delta - 1.959964 * sev, 9) AS ci_lo,
          |  round(delta + 1.959964 * sev, 9) AS ci_hi
          |FROM sef""".stripMargin,

      // the PAV certificate columns: the SQL-derivable scalars are
      // recomputed, the optimality/consistency violation counts are
      // pinned 0 (the derived-invariant convention)
      "q_isotonic" ->
        """WITH r AS (
          |  SELECT ((CAST(doc_id AS BIGINT) * 13) % 101) / 100.0 AS s,
          |    CAST(((CAST(doc_id AS BIGINT) * 37) % 97) % 2 AS DOUBLE)
          |      AS y
          |  FROM documents)
          |SELECT CAST(count(DISTINCT s) AS BIGINT) AS n_scores,
          |  CAST(count(*) AS BIGINT) AS n_rows,
          |  CAST(count(*) AS BIGINT) AS rows_covered,
          |  CAST(sum(y) AS BIGINT) AS sum_y,
          |  CAST(0 AS BIGINT) AS bad_pools,
          |  CAST(0 AS BIGINT) AS non_monotone,
          |  CAST(0 AS BIGINT) AS overlaps,
          |  CAST(0 AS BIGINT) AS prefix_violations
          |FROM r""".stripMargin,

      "q_chi2" ->
        """WITH r AS (
          |  SELECT source AS a,
          |    CAST((CAST(doc_id AS BIGINT) * 7) % 3 AS VARCHAR) AS b
          |  FROM documents),
          |ct AS (SELECT a, b, count(*) AS o FROM r GROUP BY 1, 2),
          |ma AS (SELECT a, sum(o) AS ra FROM ct GROUP BY 1),
          |mb AS (SELECT b, sum(o) AS cb FROM ct GROUP BY 1),
          |nn AS (SELECT count(*) AS n FROM r),
          |g AS (
          |  SELECT ma.ra, mb.cb, CAST(coalesce(ct.o, 0) AS DOUBLE) AS o
          |  FROM ma CROSS JOIN mb
          |  LEFT JOIN ct ON ct.a = ma.a AND ct.b = mb.b),
          |st AS (
          |  SELECT sum(
          |    (o - CAST(ra AS DOUBLE) * cb / (SELECT n FROM nn))
          |    * (o - CAST(ra AS DOUBLE) * cb / (SELECT n FROM nn))
          |    / (CAST(ra AS DOUBLE) * cb / (SELECT n FROM nn))) AS chi2
          |  FROM g),
          |sh AS (
          |  SELECT (SELECT n FROM nn) AS n,
          |    (SELECT count(*) FROM ma) AS r,
          |    (SELECT count(*) FROM mb) AS c)
          |SELECT CAST(sh.n AS BIGINT) AS n,
          |  CAST(sh.r AS BIGINT) AS n_rows, CAST(sh.c AS BIGINT) AS n_cols,
          |  CAST((sh.r - 1) * (sh.c - 1) AS BIGINT) AS dof,
          |  round(st.chi2, 9) AS chi2,
          |  round(sqrt(st.chi2 / (CAST(sh.n AS DOUBLE)
          |    * least(sh.r - 1, sh.c - 1))), 9) AS cramers_v
          |FROM st, sh""".stripMargin,

      // the oracle replays the md5→Poisson(1) draw per (id, replicate)
      // — it is allowed the 60× row expansion the engine avoids; the
      // lo/hi offsets are ceil(0.05·61)−1 = 3 and floor(0.95·61)−1 = 56
      "q_bootstrap" ->
        """WITH d AS (
          |  SELECT CAST(doc_id AS VARCHAR) AS id,
          |    CAST(n_chars AS DOUBLE) AS v
          |  FROM documents),
          |u AS (
          |  SELECT id, v, b,
          |    ('0x' || substr(md5(id || '|bs' || b), 1, 8))::BIGINT
          |      / 4294967296.0 AS u
          |  FROM d, range(60) r(b)),
          |w AS (
          |  SELECT v, b,
          |    CASE WHEN u < 0.367879441171 THEN 0
          |         WHEN u < 0.735758882343 THEN 1
          |         WHEN u < 0.919698602929 THEN 2
          |         WHEN u < 0.980988177458 THEN 3
          |         WHEN u < 0.996310663590 THEN 4
          |         WHEN u < 0.999405960861 THEN 5
          |         WHEN u < 0.999921843700 THEN 6
          |         WHEN u < 0.999995541392 THEN 7
          |         ELSE 8 END AS wt
          |  FROM u),
          |rep AS (
          |  SELECT b, sum(wt * v) AS sx, sum(wt) AS sw
          |  FROM w GROUP BY 1),
          |base AS (SELECT count(*) AS n, sum(v) AS sx FROM d),
          |means AS (
          |  SELECT CASE WHEN sw > 0 THEN sx / sw
          |              ELSE (SELECT sx / n FROM base) END AS m
          |  FROM rep),
          |st AS (
          |  SELECT count(*) AS nb, sum(m) AS sm,
          |    sum(m * m) AS smm
          |  FROM means)
          |SELECT CAST(base.n AS BIGINT) AS n,
          |  round(base.sx / base.n, 9) AS mean,
          |  round(sqrt((st.smm - st.sm * st.sm / st.nb)
          |    / (st.nb - 1)), 9) AS se,
          |  round((SELECT m FROM means ORDER BY m LIMIT 1 OFFSET 3), 9)
          |    AS ci_lo,
          |  round((SELECT m FROM means ORDER BY m LIMIT 1 OFFSET 56), 9)
          |    AS ci_hi
          |FROM base, st""".stripMargin,

      "q_alpha_interval" ->
        """WITH r AS (
          |  SELECT CAST(doc_id AS BIGINT) % 40 AS item,
          |    CAST((CAST(doc_id AS BIGINT) * 7) % 5 + 1 AS DOUBLE) AS x
          |  FROM documents),
          |pi AS (
          |  SELECT item, count(*) AS m, sum(x) AS sx, sum(x * x) AS sxx
          |  FROM r GROUP BY 1),
          |us AS (SELECT * FROM pi WHERE m >= 2),
          |agg AS (
          |  SELECT count(*) AS n_items, sum(m) AS nr,
          |    sum(2.0 * (m * sxx - sx * sx) / (m - 1)) AS do_num,
          |    sum(sx) AS tx, sum(sxx) AS txx
          |  FROM us)
          |SELECT CAST(n_items AS BIGINT) AS n_items,
          |  CAST(nr AS BIGINT) AS n_ratings,
          |  round(do_num / nr, 9) AS d_o,
          |  round(2.0 * (nr * txx - tx * tx) / (nr * (nr - 1.0)), 9)
          |    AS d_e,
          |  round(CASE WHEN 2.0 * (nr * txx - tx * tx)
          |      / (nr * (nr - 1.0)) <= 0 THEN 1.0
          |    ELSE 1.0 - (do_num / nr) / (2.0 * (nr * txx - tx * tx)
          |      / (nr * (nr - 1.0))) END, 9) AS alpha
          |FROM agg""".stripMargin,

      "q_score_drift" ->
        """WITH sc AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    LEAST(CAST(FLOOR((user_id * 37 + 11) % 700 / 1024.0 * 8)
          |      AS INT), 7) AS bin
          |  FROM events),
          |c AS (SELECT w, bin, CAST(count(*) AS DOUBLE) AS c
          |      FROM sc GROUP BY 1, 2),
          |tot AS (SELECT w, sum(c) AS n FROM c GROUP BY 1),
          |p AS (SELECT c.w, c.bin, c.c / tot.n AS p, tot.n AS n
          |      FROM c JOIN tot USING (w)),
          |cur AS (SELECT w AS k, bin, p AS pc, n AS nc FROM p),
          |prv AS (SELECT w + INTERVAL 1 HOUR AS k, bin, p AS pp FROM p),
          |ks AS (SELECT DISTINCT cur.k FROM cur
          |       JOIN (SELECT DISTINCT k FROM prv) q ON q.k = cur.k),
          |j AS (
          |  SELECT coalesce(cur.k, prv.k) AS k, cur.pc, cur.nc, prv.pp
          |  FROM cur FULL OUTER JOIN prv
          |    ON cur.k = prv.k AND cur.bin = prv.bin)
          |SELECT strftime(k, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(max(nc) AS BIGINT) AS n_events,
          |  round(sum(CASE WHEN pc IS NOT NULL AND pp IS NOT NULL
          |    THEN (pc - pp) * ln(pc / pp) ELSE 0 END), 9) AS psi,
          |  CAST(sum(CASE WHEN pc IS NULL OR pp IS NULL THEN 1 ELSE 0
          |    END) AS BIGINT) AS one_sided_bins
          |FROM j JOIN ks USING (k) GROUP BY k
          |ORDER BY window_start""".stripMargin,

      "q_embed_drift" ->
        """WITH e AS (
          |  SELECT TIMESTAMP '2024-01-01 00:00:00'
          |      + (CAST(vec_id % 12 AS INT) * INTERVAL 30 MINUTE) AS ts,
          |    CASE
          |      WHEN embedding[1] >= embedding[2]
          |       AND embedding[1] >= embedding[3]
          |       AND embedding[1] >= embedding[4] THEN 0
          |      WHEN embedding[2] >= embedding[3]
          |       AND embedding[2] >= embedding[4] THEN 1
          |      WHEN embedding[3] >= embedding[4] THEN 2
          |      ELSE 3 END AS bin
          |  FROM embeddings),
          |c AS (SELECT date_trunc('hour', ts) AS w, bin,
          |        CAST(count(*) AS DOUBLE) AS c
          |      FROM e GROUP BY 1, 2),
          |tot AS (SELECT w, sum(c) AS n FROM c GROUP BY 1),
          |p AS (SELECT c.w, c.bin, c.c / tot.n AS p, tot.n AS n
          |      FROM c JOIN tot USING (w)),
          |cur AS (SELECT w AS k, bin, p AS pc, n AS nc FROM p),
          |prv AS (SELECT w + INTERVAL 1 HOUR AS k, bin, p AS pp FROM p),
          |ks AS (SELECT DISTINCT cur.k FROM cur
          |       JOIN (SELECT DISTINCT k FROM prv) q ON q.k = cur.k),
          |j AS (
          |  SELECT coalesce(cur.k, prv.k) AS k, cur.pc, cur.nc, prv.pp
          |  FROM cur FULL OUTER JOIN prv
          |    ON cur.k = prv.k AND cur.bin = prv.bin)
          |SELECT strftime(k, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(max(nc) AS BIGINT) AS n_events,
          |  round(sum(CASE WHEN pc IS NOT NULL AND pp IS NOT NULL
          |    THEN (pc - pp) * ln(pc / pp) ELSE 0 END), 9) AS psi,
          |  CAST(sum(CASE WHEN pc IS NULL OR pp IS NULL THEN 1 ELSE 0
          |    END) AS BIGINT) AS one_sided_bins
          |FROM j JOIN ks USING (k) GROUP BY k
          |ORDER BY window_start""".stripMargin,

      "q_ks_drift" ->
        """WITH sc AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    ((user_id * 37 + 11) % 700) / 1024.0 AS v
          |  FROM events),
          |c AS (SELECT w, v, count(*) AS c FROM sc GROUP BY 1, 2),
          |tot AS (SELECT w, sum(c) AS n FROM c GROUP BY 1),
          |cur AS (SELECT c.w AS k, v, c.c AS cc, tot.n AS nc
          |        FROM c JOIN tot USING (w)),
          |prv AS (SELECT c.w + INTERVAL 1 HOUR AS k, v, c.c AS cp,
          |          tot.n AS np
          |        FROM c JOIN tot USING (w)),
          |ks AS (SELECT DISTINCT cur.k FROM cur
          |       JOIN (SELECT DISTINCT k FROM prv) q ON q.k = cur.k),
          |j AS (
          |  SELECT coalesce(cur.k, prv.k) AS k, coalesce(cur.v, prv.v) AS v,
          |    coalesce(cc, 0) AS cc, coalesce(cp, 0) AS cp, nc, np
          |  FROM cur FULL OUTER JOIN prv
          |    ON cur.k = prv.k AND cur.v = prv.v),
          |a AS (
          |  SELECT k,
          |    SUM(cc) OVER (PARTITION BY k ORDER BY v
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
          |    SUM(cp) OVER (PARTITION BY k ORDER BY v
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cump,
          |    MAX(nc) OVER (PARTITION BY k) AS nc,
          |    MAX(np) OVER (PARTITION BY k) AS np
          |  FROM j JOIN ks USING (k)),
          |pw AS (
          |  SELECT k AS window_start, CAST(max(nc) AS BIGINT) AS n_cur,
          |    CAST(max(np) AS BIGINT) AS n_prev,
          |    max(abs(CAST(cumc AS DOUBLE) / nc
          |      - CAST(cump AS DOUBLE) / np)) AS d
          |  FROM a GROUP BY 1),
          |lm AS (
          |  SELECT *,
          |    (sqrt(CAST(n_cur AS DOUBLE) * n_prev / (n_cur + n_prev))
          |     + 0.12
          |     + 0.11 / sqrt(CAST(n_cur AS DOUBLE) * n_prev
          |                   / (n_cur + n_prev))) * d AS lam
          |  FROM pw)
          |SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S')
          |    AS window_start,
          |  n_cur, n_prev, round(d, 9) AS d,
          |  round(CASE WHEN lam < 0.3 THEN 1.0
          |    ELSE least(1.0, greatest(0.0, 2.0 * (
          |      exp(-2.0 * lam * lam) - exp(-8.0 * lam * lam)
          |      + exp(-18.0 * lam * lam) - exp(-32.0 * lam * lam)
          |      + exp(-50.0 * lam * lam) - exp(-72.0 * lam * lam)
          |      + exp(-98.0 * lam * lam) - exp(-128.0 * lam * lam))))
          |    END, 9) AS p_value
          |FROM lm ORDER BY window_start""".stripMargin,

      "q_stream_sprt" ->
        """WITH sc AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    CAST((user_id * 7) % 3 AS VARCHAR) AS y,
          |    CAST((user_id * 11) % 3 AS VARCHAR) AS a,
          |    CAST((user_id * 13) % 3 AS VARCHAR) AS b
          |  FROM events),
          |ag AS (
          |  SELECT w, count(*) AS n,
          |    sum(CASE WHEN y = a AND y <> b THEN 1 ELSE 0 END) AS bb,
          |    sum(CASE WHEN y <> a AND y = b THEN 1 ELSE 0 END) AS cc
          |  FROM sc GROUP BY 1),
          |cm AS (
          |  SELECT w, n,
          |    SUM(bb) OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |      AND CURRENT ROW) AS bc,
          |    SUM(cc) OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |      AND CURRENT ROW) AS c2
          |  FROM ag),
          |ll AS (
          |  SELECT w, n, bc, c2,
          |    round(c2 * ln(2.0 * 0.6) + bc * ln(2.0 * (1.0 - 0.6)), 9)
          |      AS lb,
          |    round(bc * ln(2.0 * 0.6) + c2 * ln(2.0 * (1.0 - 0.6)), 9)
          |      AS la
          |  FROM cm)
          |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(n AS BIGINT) AS n, CAST(bc AS BIGINT) AS b_cum,
          |  CAST(c2 AS BIGINT) AS c_cum, lb AS llr_b, la AS llr_a,
          |  CASE WHEN lb >= round(ln((1.0 - 0.05) / 0.05), 9)
          |         THEN 'b_better'
          |       WHEN la >= round(ln((1.0 - 0.05) / 0.05), 9)
          |         THEN 'a_better'
          |       WHEN lb <= round(ln(0.05 / (1.0 - 0.05)), 9)
          |        AND la <= round(ln(0.05 / (1.0 - 0.05)), 9)
          |         THEN 'no_difference'
          |       ELSE 'continue' END AS decision
          |FROM ll ORDER BY window_start""".stripMargin,

      "q_cusum" ->
        """WITH sc AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    CAST((user_id * 7 + 3) % 13 AS DOUBLE) AS x
          |  FROM events),
          |per AS (SELECT w, count(*) AS n, sum(x) AS sx
          |        FROM sc GROUP BY 1),
          |b AS (
          |  SELECT w, n, sx / n AS m,
          |    sx / n - 5.5 - 0.0 AS dp,
          |    5.5 - sx / n - 0.0 AS dn
          |  FROM per),
          |p AS (
          |  SELECT w, n, m,
          |    SUM(dp) OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |      AND CURRENT ROW) AS pp,
          |    SUM(dn) OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |      AND CURRENT ROW) AS pn
          |  FROM b),
          |q AS (
          |  SELECT *,
          |    MIN(pp) OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |      AND CURRENT ROW) AS mp,
          |    MIN(pn) OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |      AND CURRENT ROW) AS mn
          |  FROM p)
          |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(n AS BIGINT) AS n, round(m, 9) AS mean,
          |  round(pp - least(0.0, mp), 9) AS cusum_pos,
          |  round(pn - least(0.0, mn), 9) AS cusum_neg,
          |  (round(pp - least(0.0, mp), 9) > 2.0
          |   OR round(pn - least(0.0, mn), 9) > 2.0) AS alarm
          |FROM q ORDER BY window_start""".stripMargin,

      "q_cusum_gap" ->
        """WITH sc AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    CAST((user_id * 7 + 3) % 13 AS DOUBLE) AS x
          |  FROM events
          |  WHERE hour(CAST(ts AS TIMESTAMP)) % 3 <> 1),
          |per AS (SELECT w, count(*) AS n, sum(x) AS sx
          |        FROM sc GROUP BY 1),
          |mm AS (SELECT min(w) AS lo, max(w) AS hi FROM per),
          |spine AS (
          |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
          |    AS w FROM mm),
          |b AS (
          |  SELECT s.w, coalesce(p.n, 0) AS n,
          |    coalesce(p.sx / p.n, 0.0) AS m,
          |    coalesce(p.sx / p.n, 0.0) - 5.5 - 0.0 AS dp,
          |    5.5 - coalesce(p.sx / p.n, 0.0) - 0.0 AS dn
          |  FROM spine s LEFT JOIN per p ON s.w = p.w),
          |p2 AS (
          |  SELECT w, n, m,
          |    SUM(dp) OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |      AND CURRENT ROW) AS pp,
          |    SUM(dn) OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |      AND CURRENT ROW) AS pn
          |  FROM b),
          |q AS (
          |  SELECT *,
          |    MIN(pp) OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |      AND CURRENT ROW) AS mp,
          |    MIN(pn) OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |      AND CURRENT ROW) AS mn
          |  FROM p2)
          |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(n AS BIGINT) AS n, round(m, 9) AS mean,
          |  round(pp - least(0.0, mp), 9) AS cusum_pos,
          |  round(pn - least(0.0, mn), 9) AS cusum_neg,
          |  (round(pp - least(0.0, mp), 9) > 2.0
          |   OR round(pn - least(0.0, mn), 9) > 2.0) AS alarm
          |FROM q ORDER BY window_start""".stripMargin,

      "q_stream_msprt" ->
        """WITH sc AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    CAST((user_id * 13) % 9 - 4 AS DOUBLE) / 8.0 + 0.015625
          |      AS x
          |  FROM events),
          |per AS (SELECT w, count(*) AS n, sum(x) AS sx
          |        FROM sc GROUP BY 1),
          |cm AS (
          |  SELECT w, n,
          |    SUM(n) OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |      AND CURRENT ROW) AS nc,
          |    SUM(sx) OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |      AND CURRENT ROW) AS s2
          |  FROM per),
          |dn AS (
          |  SELECT *, CAST(0.125 AS DOUBLE) + nc * CAST(0.0625 AS
          |    DOUBLE) AS den
          |  FROM cm),
          |ll AS (
          |  SELECT w, n, nc, s2,
          |    round(0.5 * ln(0.125 / den)
          |      + (s2 * s2 * 0.0625) / (2.0 * 0.125 * den), 9) AS lb
          |  FROM dn)
          |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(n AS BIGINT) AS n, CAST(nc AS BIGINT) AS n_cum,
          |  round(s2 / nc, 9) AS mean_cum,
          |  CAST(0.125 AS DOUBLE) AS var_used,
          |  lb AS log_lambda,
          |  round(least(1.0, exp(0.0 - lb)), 9) AS p_value,
          |  (lb >= round(ln(1.0 / 0.05), 9)) AS reject,
          |  true AS decidable
          |FROM ll ORDER BY window_start""".stripMargin,

      "q_stream_msprt_var" ->
        """WITH sc AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    CAST((user_id * 13) % 9 - 4 AS DOUBLE) / 8.0 + 0.015625
          |      AS x
          |  FROM events),
          |per AS (SELECT w, count(*) AS n, sum(x) AS sx,
          |          sum(x * x) AS sxx
          |        FROM sc GROUP BY 1),
          |cm AS (
          |  SELECT w, n,
          |    SUM(n) OVER wd AS nc, SUM(sx) OVER wd AS s2,
          |    SUM(sxx) OVER wd AS xc
          |  FROM per
          |  WINDOW wd AS (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |    AND CURRENT ROW)),
          |vv AS (
          |  SELECT *, CASE WHEN nc >= 2 THEN
          |    (xc - s2 * s2 / nc) / (nc - 1.0) END AS v
          |  FROM cm),
          |og AS (
          |  SELECT *, nc >= 2 AND coalesce(v > 0.0, false) AS okf
          |  FROM vv),
          |ll AS (
          |  SELECT *,
          |    round(CASE WHEN okf THEN
          |      0.5 * ln(v / (v + nc * CAST(0.0625 AS DOUBLE)))
          |        + (s2 * s2 * 0.0625) /
          |          (2.0 * v * (v + nc * CAST(0.0625 AS DOUBLE)))
          |      END, 9) AS lb
          |  FROM og)
          |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(n AS BIGINT) AS n, CAST(nc AS BIGINT) AS n_cum,
          |  round(s2 / nc, 9) AS mean_cum,
          |  round(CASE WHEN okf THEN v ELSE -1.0 END, 9) AS var_used,
          |  coalesce(lb, -1.0) AS log_lambda,
          |  coalesce(round(least(1.0, exp(0.0 - lb)), 9), -1.0)
          |    AS p_value,
          |  coalesce(lb >= round(ln(1.0 / 0.05), 9), false) AS reject,
          |  okf AS decidable
          |FROM ll ORDER BY window_start""".stripMargin,

      "q_stream_ope" ->
        """WITH sc AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    CAST((user_id * 13) % 8 AS DOUBLE) / 8.0 AS rw,
          |    1.0 / power(2.0, CAST((user_id * 7) % 3 + 1 AS DOUBLE))
          |      AS pb,
          |    CAST((user_id * 11) % 8 + 1 AS DOUBLE) / 16.0 AS pt
          |  FROM events),
          |ww AS (SELECT w, rw, pt / pb AS w0, least(pt / pb, 2.0) AS wc
          |       FROM sc),
          |ag AS (
          |  SELECT w, count(*) AS n, sum(rw) AS sr,
          |    sum(wc * rw) AS swr, sum(wc) AS sw, sum(wc * wc) AS sww,
          |    sum((wc * rw) * (wc * rw)) AS swr2,
          |    sum(wc * wc * rw) AS swwr,
          |    sum(CASE WHEN w0 > 2.0 THEN 1 ELSE 0 END) AS nclip
          |  FROM ww GROUP BY w),
          |es AS (
          |  SELECT *, swr / n AS ips,
          |    CASE WHEN sw > 0 THEN swr / sw ELSE 0.0 END AS snips,
          |    CASE WHEN n > 1 THEN
          |      sqrt(greatest(0.0, (swr2 - swr * swr / n) / (n - 1.0))
          |        / n)
          |    ELSE 0.0 END AS ips_se
          |  FROM ag),
          |e2 AS (
          |  SELECT *, CASE WHEN sw > 0 AND n > 1 THEN
          |      sqrt(greatest(0.0, swr2 - 2.0 * snips * swwr
          |        + snips * snips * sww)) / sw
          |    ELSE 0.0 END AS snips_se
          |  FROM es)
          |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(n AS BIGINT) AS n, round(sr / n, 9) AS behavior_mean,
          |  round(ips, 9) AS ips, round(ips_se, 9) AS ips_se,
          |  round(ips - 1.959964 * ips_se, 9) AS ips_lo,
          |  round(ips + 1.959964 * ips_se, 9) AS ips_hi,
          |  round(snips, 9) AS snips, round(snips_se, 9) AS snips_se,
          |  round(snips - 1.959964 * snips_se, 9) AS snips_lo,
          |  round(snips + 1.959964 * snips_se, 9) AS snips_hi,
          |  round(CASE WHEN sww > 0 THEN sw * sw / sww ELSE 0.0 END, 9)
          |    AS ess,
          |  round(nclip * 1.0 / n, 9) AS clipped_frac
          |FROM e2 ORDER BY window_start""".stripMargin,

      "q_stream_ab_msprt" ->
        """WITH sc AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    'arm' || CAST(user_id % 2 AS VARCHAR) AS arm,
          |    CAST((user_id * 13) % 16 AS DOUBLE) / 16.0
          |      + CAST(user_id % 2 AS DOUBLE) * 0.03125 AS y
          |  FROM events),
          |ag AS (
          |  SELECT w, arm, count(*) AS n, sum(y) AS sx
          |  FROM sc GROUP BY w, arm),
          |pv AS (
          |  SELECT w, sum(n) AS n,
          |    coalesce(max(CASE WHEN arm = 'arm0' THEN n END), 0)
          |      AS nain,
          |    coalesce(max(CASE WHEN arm = 'arm1' THEN n END), 0)
          |      AS nbin,
          |    coalesce(max(CASE WHEN arm = 'arm0' THEN sx END), 0.0)
          |      AS sain,
          |    coalesce(max(CASE WHEN arm = 'arm1' THEN sx END), 0.0)
          |      AS sbin
          |  FROM ag GROUP BY w),
          |cm AS (
          |  SELECT w, n,
          |    SUM(nain) OVER ww AS na, SUM(nbin) OVER ww AS nb,
          |    SUM(sain) OVER ww AS sa, SUM(sbin) OVER ww AS sb
          |  FROM pv
          |  WINDOW ww AS (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |    AND CURRENT ROW)),
          |st AS (
          |  SELECT *, na > 0 AND nb > 0 AS ok,
          |    CASE WHEN na > 0 AND nb > 0 THEN sb / nb - sa / na END
          |      AS d,
          |    CASE WHEN na > 0 AND nb > 0 THEN
          |      0.125 * (CAST(1.0 AS DOUBLE) / na
          |        + CAST(1.0 AS DOUBLE) / nb) END AS v
          |  FROM cm),
          |ll AS (
          |  SELECT *,
          |    round(0.5 * ln(v / (v + 0.0625))
          |      + (d * d * 0.0625) / (2.0 * v * (v + 0.0625)), 9)
          |      AS lb
          |  FROM st)
          |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(n AS BIGINT) AS n, CAST(na AS BIGINT) AS na_cum,
          |  CAST(nb AS BIGINT) AS nb_cum,
          |  round(CASE WHEN ok THEN d ELSE -1.0 END, 9) AS delta_cum,
          |  round(CASE WHEN ok THEN CAST(0.125 AS DOUBLE)
          |    ELSE -1.0 END, 9) AS var_used,
          |  round(CASE WHEN ok THEN lb ELSE -1.0 END, 9)
          |    AS log_lambda,
          |  round(CASE WHEN ok THEN least(1.0, exp(0.0 - lb))
          |    ELSE -1.0 END, 9) AS p_value,
          |  (ok AND lb >= round(ln(1.0 / 0.05), 9)) AS reject,
          |  ok AS decidable
          |FROM ll ORDER BY window_start""".stripMargin,

      "q_stream_ab_msprt_var" ->
        """WITH sc AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    'arm' || CAST(user_id % 2 AS VARCHAR) AS arm,
          |    CAST((user_id * 13) % 16 AS DOUBLE) / 16.0
          |      + CAST(user_id % 2 AS DOUBLE) * 0.03125 AS y
          |  FROM events),
          |ag AS (
          |  SELECT w, arm, count(*) AS n, sum(y) AS sx,
          |    sum(y * y) AS sxx
          |  FROM sc GROUP BY w, arm),
          |pv AS (
          |  SELECT w, sum(n) AS n,
          |    coalesce(max(CASE WHEN arm = 'arm0' THEN n END), 0)
          |      AS nain,
          |    coalesce(max(CASE WHEN arm = 'arm1' THEN n END), 0)
          |      AS nbin,
          |    coalesce(max(CASE WHEN arm = 'arm0' THEN sx END), 0.0)
          |      AS sain,
          |    coalesce(max(CASE WHEN arm = 'arm1' THEN sx END), 0.0)
          |      AS sbin,
          |    coalesce(max(CASE WHEN arm = 'arm0' THEN sxx END), 0.0)
          |      AS xain,
          |    coalesce(max(CASE WHEN arm = 'arm1' THEN sxx END), 0.0)
          |      AS xbin
          |  FROM ag GROUP BY w),
          |cm AS (
          |  SELECT w, n,
          |    SUM(nain) OVER ww AS na, SUM(nbin) OVER ww AS nb,
          |    SUM(sain) OVER ww AS sa, SUM(sbin) OVER ww AS sb,
          |    SUM(xain) OVER ww AS xa, SUM(xbin) OVER ww AS xb
          |  FROM pv
          |  WINDOW ww AS (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |    AND CURRENT ROW)),
          |vv AS (
          |  SELECT *, CASE WHEN na >= 2 AND nb >= 2 THEN
          |    (xa + xb - sa * sa / na - sb * sb / nb) /
          |      (na + nb - 2.0) END AS s2v
          |  FROM cm),
          |og AS (
          |  SELECT *,
          |    na >= 2 AND nb >= 2 AND coalesce(s2v > 0.0, false)
          |      AS okf
          |  FROM vv),
          |st AS (
          |  SELECT *,
          |    CASE WHEN okf THEN sb / nb - sa / na END AS d,
          |    CASE WHEN okf THEN
          |      s2v * (CAST(1.0 AS DOUBLE) / na
          |        + CAST(1.0 AS DOUBLE) / nb) END AS v
          |  FROM og),
          |ll AS (
          |  SELECT *,
          |    round(0.5 * ln(v / (v + 0.0625))
          |      + (d * d * 0.0625) / (2.0 * v * (v + 0.0625)), 9)
          |      AS lb
          |  FROM st)
          |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(n AS BIGINT) AS n, CAST(na AS BIGINT) AS na_cum,
          |  CAST(nb AS BIGINT) AS nb_cum,
          |  round(CASE WHEN okf THEN d ELSE -1.0 END, 9) AS delta_cum,
          |  round(CASE WHEN okf THEN s2v ELSE -1.0 END, 9)
          |    AS var_used,
          |  round(CASE WHEN okf THEN lb ELSE -1.0 END, 9)
          |    AS log_lambda,
          |  round(CASE WHEN okf THEN least(1.0, exp(0.0 - lb))
          |    ELSE -1.0 END, 9) AS p_value,
          |  (okf AND lb >= round(ln(1.0 / 0.05), 9)) AS reject,
          |  okf AS decidable
          |FROM ll ORDER BY window_start""".stripMargin,

      "q_stream_cuped" ->
        s"""WITH sc AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    'arm' || CAST(user_id % 2 AS VARCHAR) AS arm,
          |    CAST((user_id * 13) % 16 AS DOUBLE) / 16.0
          |      + CAST(user_id % 2 AS DOUBLE) * 0.03125 AS y,
          |    CAST((user_id * 13) % 16 AS DOUBLE) / 16.0 * 0.5
          |      + CAST((user_id * 29) % 8 AS DOUBLE) / 16.0 AS x
          |  FROM events),
          |ag AS (
          |  SELECT w, arm, count(*) AS n, sum(y) AS sy, sum(x) AS sx,
          |    sum(y * y) AS syy, sum(x * x) AS sxx, sum(x * y) AS sxy
          |  FROM sc GROUP BY w, arm),
          |pv AS (
          |  SELECT w,
          |    coalesce(max(CASE WHEN arm = 'arm0' THEN n END), 0)
          |      AS na,
          |    coalesce(max(CASE WHEN arm = 'arm1' THEN n END), 0)
          |      AS nb,
          |    max(CASE WHEN arm = 'arm0' THEN sy END) AS sya,
          |    max(CASE WHEN arm = 'arm1' THEN sy END) AS syb,
          |    max(CASE WHEN arm = 'arm0' THEN sx END) AS sxa,
          |    max(CASE WHEN arm = 'arm1' THEN sx END) AS sxb,
          |    max(CASE WHEN arm = 'arm0' THEN syy END) AS syya,
          |    max(CASE WHEN arm = 'arm1' THEN syy END) AS syyb,
          |    max(CASE WHEN arm = 'arm0' THEN sxx END) AS sxxa,
          |    max(CASE WHEN arm = 'arm1' THEN sxx END) AS sxxb,
          |    max(CASE WHEN arm = 'arm0' THEN sxy END) AS sxya,
          |    max(CASE WHEN arm = 'arm1' THEN sxy END) AS sxyb
          |  FROM ag GROUP BY w),
          |th AS (
          |  SELECT *,
          |    na >= 2 AND nb >= 2 AS ok,
          |    (sxxa + sxxb) - (sxa + sxb) * (sxa + sxb) / (na + nb)
          |      AS vden
          |  FROM pv),
          |t2 AS (
          |  SELECT *,
          |    CASE WHEN vden > 0.0 THEN
          |      ((sxya + sxyb) - (sxa + sxb) * (sya + syb)
          |        / (na + nb)) / vden
          |    ELSE 0.0 END AS theta
          |  FROM th),
          |st AS (
          |  SELECT *,
          |    sya / na AS mya, syb / nb AS myb,
          |    sxa / na AS mxa, sxb / nb AS mxb,
          |    (syya - sya * sya / na) / (na - 1.0) AS vya,
          |    (syyb - syb * syb / nb) / (nb - 1.0) AS vyb,
          |    (sxxa - sxa * sxa / na) / (na - 1.0) AS vxa,
          |    (sxxb - sxb * sxb / nb) / (nb - 1.0) AS vxb,
          |    (sxya - sxa * sya / na) / (na - 1.0) AS ca,
          |    (sxyb - sxb * syb / nb) / (nb - 1.0) AS cb
          |  FROM t2),
          |dl AS (
          |  SELECT *,
          |    myb - mya AS delta_raw,
          |    sqrt(greatest(0.0, vya) / na + greatest(0.0, vyb) / nb)
          |      AS se_raw,
          |    (myb - mya) - theta * (mxb - mxa) AS delta,
          |    greatest(0.0, vya - 2.0 * theta * ca
          |      + theta * theta * vxa) AS s2a,
          |    greatest(0.0, vyb - 2.0 * theta * cb
          |      + theta * theta * vxb) AS s2b
          |  FROM st),
          |se1 AS (SELECT *, sqrt(s2a / na + s2b / nb) AS se FROM dl),
          |zz AS (
          |  SELECT *, CASE WHEN se > 0.0 THEN delta / se ELSE 0.0 END
          |    AS z
          |  FROM se1),
          |px AS (SELECT *, abs(z) / sqrt(2.0) AS xq FROM zz),
          |pp AS (
          |  SELECT *,
          |    CASE WHEN se > 0.0 THEN least(1.0, ${erfccSql("xq")})
          |      WHEN delta = 0.0 THEN 1.0 ELSE 0.0 END AS p
          |  FROM px)
          |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
          |  round(CASE WHEN ok THEN theta ELSE -1.0 END, 9) AS theta,
          |  round(CASE WHEN ok THEN delta_raw ELSE -1.0 END, 9)
          |    AS delta_raw,
          |  round(CASE WHEN ok THEN se_raw ELSE -1.0 END, 9)
          |    AS se_raw,
          |  round(CASE WHEN ok THEN delta ELSE -1.0 END, 9) AS delta,
          |  round(CASE WHEN ok THEN se ELSE -1.0 END, 9) AS se,
          |  round(CASE WHEN ok THEN z ELSE -1.0 END, 9) AS z,
          |  round(CASE WHEN ok THEN p ELSE -1.0 END, 9) AS p_value,
          |  ok AS decidable
          |FROM pp ORDER BY window_start""".stripMargin,

      "q_stream_ab_msprt_unit" ->
        """WITH sc AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    user_id % 512 AS unit,
          |    'arm' || CAST((user_id % 512) % 2 AS VARCHAR) AS arm,
          |    CAST((user_id * 13) % 16 AS DOUBLE) / 16.0
          |      + CAST((user_id % 512) % 2 AS DOUBLE) * 0.03125 AS y
          |  FROM events),
          |uu AS (
          |  SELECT w, arm, unit, sum(y) AS v
          |  FROM sc GROUP BY w, arm, unit),
          |ag AS (
          |  SELECT w, arm, count(*) AS n, sum(v) AS sx,
          |    sum(v * v) AS sxx
          |  FROM uu GROUP BY w, arm),
          |pv AS (
          |  SELECT w, sum(n) AS n,
          |    coalesce(max(CASE WHEN arm = 'arm0' THEN n END), 0)
          |      AS nain,
          |    coalesce(max(CASE WHEN arm = 'arm1' THEN n END), 0)
          |      AS nbin,
          |    coalesce(max(CASE WHEN arm = 'arm0' THEN sx END), 0.0)
          |      AS sain,
          |    coalesce(max(CASE WHEN arm = 'arm1' THEN sx END), 0.0)
          |      AS sbin,
          |    coalesce(max(CASE WHEN arm = 'arm0' THEN sxx END), 0.0)
          |      AS xain,
          |    coalesce(max(CASE WHEN arm = 'arm1' THEN sxx END), 0.0)
          |      AS xbin
          |  FROM ag GROUP BY w),
          |cm AS (
          |  SELECT w, n,
          |    SUM(nain) OVER ww AS na, SUM(nbin) OVER ww AS nb,
          |    SUM(sain) OVER ww AS sa, SUM(sbin) OVER ww AS sb,
          |    SUM(xain) OVER ww AS xa, SUM(xbin) OVER ww AS xb
          |  FROM pv
          |  WINDOW ww AS (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |    AND CURRENT ROW)),
          |vv AS (
          |  SELECT *, CASE WHEN na >= 2 AND nb >= 2 THEN
          |    (xa + xb - sa * sa / na - sb * sb / nb) /
          |      (na + nb - 2.0) END AS s2v
          |  FROM cm),
          |og AS (
          |  SELECT *,
          |    na >= 2 AND nb >= 2 AND coalesce(s2v > 0.0, false)
          |      AS okf
          |  FROM vv),
          |st AS (
          |  SELECT *,
          |    CASE WHEN okf THEN sb / nb - sa / na END AS d,
          |    CASE WHEN okf THEN
          |      s2v * (CAST(1.0 AS DOUBLE) / na
          |        + CAST(1.0 AS DOUBLE) / nb) END AS v
          |  FROM og),
          |ll AS (
          |  SELECT *,
          |    round(0.5 * ln(v / (v + 0.0625))
          |      + (d * d * 0.0625) / (2.0 * v * (v + 0.0625)), 9)
          |      AS lb
          |  FROM st)
          |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(n AS BIGINT) AS n, CAST(na AS BIGINT) AS na_cum,
          |  CAST(nb AS BIGINT) AS nb_cum,
          |  round(CASE WHEN okf THEN d ELSE -1.0 END, 9) AS delta_cum,
          |  round(CASE WHEN okf THEN s2v ELSE -1.0 END, 9)
          |    AS var_used,
          |  round(CASE WHEN okf THEN lb ELSE -1.0 END, 9)
          |    AS log_lambda,
          |  round(CASE WHEN okf THEN least(1.0, exp(0.0 - lb))
          |    ELSE -1.0 END, 9) AS p_value,
          |  (okf AND lb >= round(ln(1.0 / 0.05), 9)) AS reject,
          |  okf AS decidable
          |FROM ll ORDER BY window_start""".stripMargin,

      "q_stream_eb" ->
        """WITH sc AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    'g' || CAST((user_id % 4) * (user_id % 3) AS VARCHAR)
          |      AS slice,
          |    CAST(((user_id * 37) % 97) % 2 AS INT) AS succ
          |  FROM events),
          |per AS (
          |  SELECT w, slice, count(*) AS n,
          |    sum(CAST(succ AS DOUBLE)) AS s
          |  FROM sc GROUP BY w, slice),
          |p1 AS (
          |  SELECT w, slice, n, s,
          |    SUM(s) OVER (PARTITION BY w) AS ss,
          |    SUM(n) OVER (PARTITION BY w) AS nn,
          |    COUNT(*) OVER (PARTITION BY w) AS k,
          |    SUM(s / n) OVER wo AS cp,
          |    SUM((s / n) * (s / n)) OVER wo AS cp2,
          |    SUM(CAST(1.0 AS DOUBLE) / n) OVER wo AS cinv
          |  FROM per
          |  WINDOW wo AS (PARTITION BY w ORDER BY slice ROWS BETWEEN
          |    UNBOUNDED PRECEDING AND CURRENT ROW)),
          |p2 AS (
          |  SELECT *,
          |    last_value(cp) OVER wa AS cpl,
          |    last_value(cp2) OVER wa AS cp2l,
          |    last_value(cinv) OVER wa AS cinvl
          |  FROM p1
          |  WINDOW wa AS (PARTITION BY w ORDER BY slice ROWS BETWEEN
          |    UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
          |p3 AS (
          |  SELECT *, k >= 2 AS okf, ss / nn AS pbar,
          |    CASE WHEN k >= 2 THEN
          |      (cp2l - k * (cpl / k) * (cpl / k)) / (k - 1.0)
          |    END AS varp
          |  FROM p2),
          |p4 AS (SELECT *, pbar * (1.0 - pbar) AS pw FROM p3),
          |p5 AS (
          |  SELECT *, greatest(0.0, varp - pw * cinvl / k) AS tau2
          |  FROM p4),
          |p6 AS (
          |  SELECT *, CASE WHEN tau2 + pw / n > 0.0 THEN
          |      tau2 / (tau2 + pw / n)
          |    ELSE 0.0 END AS shr
          |  FROM p5)
          |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  slice, CAST(n AS BIGINT) AS n,
          |  CAST(s AS BIGINT) AS successes,
          |  round(s / n, 9) AS rate,
          |  round(CASE WHEN okf THEN shr ELSE -1.0 END, 9)
          |    AS shrink_factor,
          |  round(CASE WHEN okf THEN pbar + shr * (s / n - pbar)
          |    ELSE -1.0 END, 9) AS shrunk_rate,
          |  okf AS decidable
          |FROM p6 ORDER BY window_start, slice""".stripMargin,

      "q_stream_ratio" ->
        s"""WITH sc AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    user_id % 512 AS unit,
          |    'arm' || CAST((user_id % 512) % 2 AS VARCHAR) AS arm,
          |    CAST((user_id * 13) % 8 AS DOUBLE) / 8.0
          |      + CAST((user_id % 512) % 2 AS DOUBLE) * 0.0625 AS y,
          |    CAST(1 + (user_id * 7) % 4 AS DOUBLE) AS d
          |  FROM events),
          |uu AS (
          |  SELECT w, arm, unit, sum(y) AS yu, sum(d) AS nu
          |  FROM sc GROUP BY w, arm, unit),
          |ag AS (
          |  SELECT w, arm, count(*) AS n, sum(yu) AS sy,
          |    sum(nu) AS sn, sum(yu * yu) AS syy,
          |    sum(nu * nu) AS snn, sum(yu * nu) AS syn
          |  FROM uu GROUP BY w, arm),
          |pv AS (
          |  SELECT w,
          |    coalesce(max(CASE WHEN arm = 'arm0' THEN n END), 0)
          |      AS na,
          |    coalesce(max(CASE WHEN arm = 'arm1' THEN n END), 0)
          |      AS nb,
          |    max(CASE WHEN arm = 'arm0' THEN sy END) AS sya,
          |    max(CASE WHEN arm = 'arm1' THEN sy END) AS syb,
          |    max(CASE WHEN arm = 'arm0' THEN sn END) AS sna,
          |    max(CASE WHEN arm = 'arm1' THEN sn END) AS snb,
          |    max(CASE WHEN arm = 'arm0' THEN syy END) AS syya,
          |    max(CASE WHEN arm = 'arm1' THEN syy END) AS syyb,
          |    max(CASE WHEN arm = 'arm0' THEN snn END) AS snna,
          |    max(CASE WHEN arm = 'arm1' THEN snn END) AS snnb,
          |    max(CASE WHEN arm = 'arm0' THEN syn END) AS syna,
          |    max(CASE WHEN arm = 'arm1' THEN syn END) AS synb
          |  FROM ag GROUP BY w),
          |og AS (
          |  SELECT *,
          |    na >= 2 AND nb >= 2 AND coalesce(sna > 0.0, false)
          |      AND coalesce(snb > 0.0, false) AS okf
          |  FROM pv),
          |s1 AS (
          |  SELECT *,
          |    CASE WHEN okf THEN sya / sna END AS ra,
          |    CASE WHEN okf THEN syb / snb END AS rb,
          |    CASE WHEN okf THEN sna / na END AS ma,
          |    CASE WHEN okf THEN snb / nb END AS mb,
          |    CASE WHEN okf THEN
          |      (syya - sya * sya / na) / (na - 1.0) END AS vya,
          |    CASE WHEN okf THEN
          |      (syyb - syb * syb / nb) / (nb - 1.0) END AS vyb,
          |    CASE WHEN okf THEN
          |      (snna - sna * sna / na) / (na - 1.0) END AS vna,
          |    CASE WHEN okf THEN
          |      (snnb - snb * snb / nb) / (nb - 1.0) END AS vnb,
          |    CASE WHEN okf THEN
          |      (syna - sya * sna / na) / (na - 1.0) END AS ca,
          |    CASE WHEN okf THEN
          |      (synb - syb * snb / nb) / (nb - 1.0) END AS cb
          |  FROM og),
          |s2 AS (
          |  SELECT *,
          |    greatest(0.0, vya - 2.0 * ra * ca + ra * ra * vna)
          |      / (na * ma * ma) AS va,
          |    greatest(0.0, vyb - 2.0 * rb * cb + rb * rb * vnb)
          |      / (nb * mb * mb) AS vb,
          |    rb - ra AS delta
          |  FROM s1),
          |s3 AS (SELECT *, sqrt(va + vb) AS se FROM s2),
          |s4 AS (
          |  SELECT *, CASE WHEN se > 0.0 THEN delta / se
          |    WHEN okf THEN 0.0 END AS z
          |  FROM s3),
          |px AS (SELECT *, abs(z) / sqrt(2.0) AS xq FROM s4),
          |pp AS (
          |  SELECT *,
          |    CASE WHEN se > 0.0 THEN least(1.0, ${erfccSql("xq")})
          |      WHEN okf THEN
          |        CASE WHEN delta = 0.0 THEN 1.0 ELSE 0.0 END
          |    END AS p
          |  FROM px)
          |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
          |  round(CASE WHEN okf THEN ra ELSE -1.0 END, 9) AS ratio_a,
          |  round(CASE WHEN okf THEN rb ELSE -1.0 END, 9) AS ratio_b,
          |  round(CASE WHEN okf THEN delta ELSE -1.0 END, 9) AS delta,
          |  round(CASE WHEN okf THEN se ELSE -1.0 END, 9) AS se,
          |  round(CASE WHEN okf THEN z ELSE -1.0 END, 9) AS z,
          |  round(CASE WHEN okf THEN p ELSE -1.0 END, 9) AS p_value,
          |  okf AS decidable
          |FROM pp ORDER BY window_start""".stripMargin,

      "q_stream_srm" ->
        s"""WITH sc AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    CASE WHEN (user_id * 13) % 16 < 9 THEN 'a' ELSE 'b' END
          |      AS arm
          |  FROM events),
          |ag AS (
          |  SELECT w, count(*) AS n,
          |    sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS c0,
          |    sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS c1
          |  FROM sc GROUP BY w),
          |st AS (
          |  SELECT *,
          |    (CAST(c0 AS DOUBLE) - 0.5 * CAST(n AS DOUBLE))
          |      * (CAST(c0 AS DOUBLE) - 0.5 * CAST(n AS DOUBLE))
          |      / (0.5 * CAST(n AS DOUBLE))
          |    + (CAST(c1 AS DOUBLE) - 0.5 * CAST(n AS DOUBLE))
          |      * (CAST(c1 AS DOUBLE) - 0.5 * CAST(n AS DOUBLE))
          |      / (0.5 * CAST(n AS DOUBLE)) AS chi2
          |  FROM ag),
          |pp AS (
          |  SELECT *, round(${chi2PSql("chi2", 1)}, 9) AS p FROM st)
          |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(n AS BIGINT) AS n, round(chi2, 9) AS chi2, 1 AS df,
          |  p AS p_value, (p < 0.001) AS srm
          |FROM pp ORDER BY window_start""".stripMargin,

      "q_stream_confseq" ->
        """WITH sc AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    CAST((user_id * 13) % 9 - 4 AS DOUBLE) / 8.0 + 0.015625
          |      AS x
          |  FROM events),
          |per AS (SELECT w, count(*) AS n, sum(x) AS sx
          |        FROM sc GROUP BY 1),
          |cm AS (
          |  SELECT w, n,
          |    SUM(n) OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |      AND CURRENT ROW) AS nc,
          |    SUM(sx) OVER (ORDER BY w ROWS BETWEEN UNBOUNDED PRECEDING
          |      AND CURRENT ROW) AS s2
          |  FROM per),
          |dn AS (
          |  SELECT *, CAST(0.125 AS DOUBLE) + nc * CAST(0.0625 AS
          |    DOUBLE) AS den
          |  FROM cm),
          |rr AS (
          |  SELECT w, n, nc, s2,
          |    round(sqrt((2.0 * 0.125 * den / 0.0625)
          |      * (0.5 * ln(den / 0.125) - ln(0.05))) / nc, 9) AS rd
          |  FROM dn)
          |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(n AS BIGINT) AS n, CAST(nc AS BIGINT) AS n_cum,
          |  round(s2 / nc, 9) AS mean_cum,
          |  CAST(0.125 AS DOUBLE) AS var_used,
          |  rd AS radius,
          |  round(s2 / nc - rd, 9) AS ci_lo,
          |  round(s2 / nc + rd, 9) AS ci_hi,
          |  true AS decidable
          |FROM rr ORDER BY window_start""".stripMargin,

      "q_stream_ab" ->
        s"""WITH sc AS (
          |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w,
          |    CAST((user_id * 7) % 3 AS VARCHAR) AS y,
          |    CAST((user_id * 11) % 3 AS VARCHAR) AS a,
          |    CAST((user_id * 13) % 3 AS VARCHAR) AS b
          |  FROM events),
          |agg AS (
          |  SELECT w, count(*) AS n,
          |    sum(CASE WHEN y = a THEN 1 ELSE 0 END) AS ca,
          |    sum(CASE WHEN y = b THEN 1 ELSE 0 END) AS cb,
          |    sum(CASE WHEN y = a AND y <> b THEN 1 ELSE 0 END) AS bb,
          |    sum(CASE WHEN y <> a AND y = b THEN 1 ELSE 0 END) AS cc
          |  FROM sc GROUP BY 1),
          |st AS (
          |  SELECT *, $mcnemarStatSql AS stat
          |  FROM agg),
          |px AS (SELECT *, sqrt(stat / 2.0) AS xq FROM st)
          |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
          |  CAST(n AS BIGINT) AS n,
          |  round(ca * 1.0 / n, 9) AS acc_a,
          |  round(cb * 1.0 / n, 9) AS acc_b,
          |  CAST(bb AS BIGINT) AS b_discordant,
          |  CAST(cc AS BIGINT) AS c_discordant,
          |  round(stat, 9) AS statistic,
          |  round(least(1.0, ${erfccSql("xq")}), 9) AS p_value
          |FROM px ORDER BY window_start""".stripMargin,

      "q_mcnemar" ->
        s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
          |s AS (SELECT (id * 7) % 3 AS y, (id * 11) % 3 AS a,
          |             (id * 13) % 3 AS b FROM d),
          |agg AS (
          |  SELECT count(*) AS n,
          |    sum(CASE WHEN y = a THEN 1 ELSE 0 END) AS ca,
          |    sum(CASE WHEN y = b THEN 1 ELSE 0 END) AS cb,
          |    sum(CASE WHEN y = a AND y <> b THEN 1 ELSE 0 END) AS bb,
          |    sum(CASE WHEN y <> a AND y = b THEN 1 ELSE 0 END) AS cc
          |  FROM s),
          |st AS (
          |  SELECT *, $mcnemarStatSql AS stat
          |  FROM agg),
          |px AS (SELECT *, sqrt(stat / 2.0) AS xq FROM st)
          |SELECT CAST(n AS BIGINT) AS n,
          |  round(ca * 1.0 / n, 9) AS acc_a,
          |  round(cb * 1.0 / n, 9) AS acc_b,
          |  CAST(bb AS BIGINT) AS b_discordant,
          |  CAST(cc AS BIGINT) AS c_discordant,
          |  round(stat, 9) AS statistic,
          |  round(least(1.0, ${erfccSql("xq")}), 9) AS p_value
          |FROM px""".stripMargin,

      "q_paired_delta" ->
        """WITH dd AS (
          |  SELECT CAST(doc_id AS BIGINT) AS id,
          |    CAST(CASE WHEN (CAST(doc_id AS BIGINT) * 7) % 3 =
          |        (CAST(doc_id AS BIGINT) * 11) % 3 THEN 1 ELSE 0 END
          |      - CASE WHEN (CAST(doc_id AS BIGINT) * 7) % 3 =
          |        (CAST(doc_id AS BIGINT) * 13) % 3 THEN 1 ELSE 0 END
          |      AS DOUBLE) AS v
          |  FROM documents),
          |u AS (
          |  SELECT id, v, b,
          |    ('0x' || substr(md5(CAST(id AS VARCHAR) || '|bs' || b),
          |      1, 8))::BIGINT / 4294967296.0 AS u
          |  FROM dd, range(40) r(b)),
          |w AS (
          |  SELECT v, b,
          |    CASE WHEN u < 0.367879441171 THEN 0
          |         WHEN u < 0.735758882343 THEN 1
          |         WHEN u < 0.919698602929 THEN 2
          |         WHEN u < 0.980988177458 THEN 3
          |         WHEN u < 0.996310663590 THEN 4
          |         WHEN u < 0.999405960861 THEN 5
          |         WHEN u < 0.999921843700 THEN 6
          |         WHEN u < 0.999995541392 THEN 7
          |         ELSE 8 END AS wt
          |  FROM u),
          |rep AS (
          |  SELECT b, sum(wt * v) AS sx, sum(wt) AS sw FROM w GROUP BY 1),
          |base AS (SELECT count(*) AS n, sum(v) AS sx FROM dd),
          |means AS (
          |  SELECT CASE WHEN sw > 0 THEN sx / sw
          |              ELSE (SELECT sx / n FROM base) END AS m
          |  FROM rep),
          |st AS (
          |  SELECT count(*) AS nb, sum(m) AS sm, sum(m * m) AS smm
          |  FROM means)
          |SELECT CAST(base.n AS BIGINT) AS n,
          |  round(base.sx / base.n, 9) AS mean,
          |  round(sqrt(greatest((st.smm - st.sm * st.sm / st.nb)
          |    / (st.nb - 1), 0.0)), 9) AS se,
          |  round((SELECT m FROM means ORDER BY m LIMIT 1 OFFSET 2), 9)
          |    AS ci_lo,
          |  round((SELECT m FROM means ORDER BY m LIMIT 1 OFFSET 37), 9)
          |    AS ci_hi
          |FROM base, st""".stripMargin,

      "q_eval_e2e_exact" ->
        """WITH hold AS (
          |  SELECT CAST(doc_id AS BIGINT) AS id, source,
          |    CAST(CAST(doc_id AS BIGINT) % 2 AS DOUBLE) AS y,
          |    ((CAST(doc_id AS BIGINT) % 2) * 300
          |      + (CAST(doc_id AS BIGINT) * 37 + 11) % 700) / 1024.0 AS p
          |  FROM documents WHERE CAST(doc_id AS BIGINT) % 5 = 4),
          |ab AS (
          |  SELECT LEAST(CAST(FLOOR(p * 32) AS INT), 31) AS b,
          |    sum(y) AS np, sum(1.0 - y) AS nn
          |  FROM hold GROUP BY 1),
          |ac AS (
          |  SELECT np, nn, COALESCE(SUM(nn) OVER (ORDER BY b
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
          |    AS cum_nn
          |  FROM ab),
          |auc AS (
          |  SELECT CAST(sum(np) AS BIGINT) AS n_pos,
          |    CAST(sum(nn) AS BIGINT) AS n_neg,
          |    round(sum(np * (cum_nn + nn / 2)) / (sum(np) * sum(nn)), 9)
          |      AS auc
          |  FROM ac),
          |eb AS (
          |  SELECT LEAST(CAST(FLOOR(p * 10) AS INT), 9) AS b,
          |    count(*) AS n, avg(p) AS conf, avg(y) AS acc
          |  FROM hold GROUP BY 1),
          |ece AS (
          |  SELECT round(sum(abs(acc - conf) * n) / sum(n), 9) AS ece
          |  FROM eb),
          |sl AS (
          |  SELECT source, count(*) AS n,
          |    sum(CASE WHEN CAST(y AS INT) =
          |      CASE WHEN p >= 0.5 THEN 1 ELSE 0 END
          |      THEN 1 ELSE 0 END) AS nc
          |  FROM hold GROUP BY 1),
          |ov AS (SELECT sum(nc) * 1.0 / sum(n) AS oa FROM sl),
          |wg AS (
          |  SELECT min(round(nc * 1.0 / n - (SELECT oa FROM ov), 9))
          |    AS worst_gap
          |  FROM sl),
          |u AS (
          |  SELECT p AS v, b,
          |    ('0x' || substr(md5(CAST(id AS VARCHAR) || '|bs' || b),
          |      1, 8))::BIGINT / 4294967296.0 AS u
          |  FROM hold, range(40) r(b)),
          |w AS (
          |  SELECT v, b,
          |    CASE WHEN u < 0.367879441171 THEN 0
          |         WHEN u < 0.735758882343 THEN 1
          |         WHEN u < 0.919698602929 THEN 2
          |         WHEN u < 0.980988177458 THEN 3
          |         WHEN u < 0.996310663590 THEN 4
          |         WHEN u < 0.999405960861 THEN 5
          |         WHEN u < 0.999921843700 THEN 6
          |         WHEN u < 0.999995541392 THEN 7
          |         ELSE 8 END AS wt
          |  FROM u),
          |rep AS (
          |  SELECT b, sum(wt * v) AS sx, sum(wt) AS sw FROM w GROUP BY 1),
          |base AS (SELECT count(*) AS n, sum(v) AS sx
          |         FROM (SELECT p AS v FROM hold)),
          |means AS (
          |  SELECT CASE WHEN sw > 0 THEN sx / sw
          |              ELSE (SELECT sx / n FROM base) END AS m
          |  FROM rep),
          |st AS (
          |  SELECT count(*) AS nb, sum(m) AS sm, sum(m * m) AS smm
          |  FROM means)
          |SELECT auc.n_pos, auc.n_neg, auc.auc, ece.ece, wg.worst_gap,
          |  CAST(base.n AS BIGINT) AS n,
          |  round(base.sx / base.n, 9) AS mean,
          |  round(sqrt(greatest((st.smm - st.sm * st.sm / st.nb)
          |    / (st.nb - 1), 0.0)), 9) AS se,
          |  round((SELECT m FROM means ORDER BY m LIMIT 1 OFFSET 2), 9)
          |    AS ci_lo,
          |  round((SELECT m FROM means ORDER BY m LIMIT 1 OFFSET 37), 9)
          |    AS ci_hi
          |FROM auc, ece, wg, base, st""".stripMargin,

      "q_privacy" ->
        """WITH r AS (
          |  SELECT CAST(CAST(doc_id AS BIGINT) % 25 AS VARCHAR) AS q0,
          |    source AS q1,
          |    CAST((CAST(doc_id AS BIGINT) * 7) % 3 AS VARCHAR) AS s
          |  FROM documents),
          |cs AS (
          |  SELECT q0, q1, s, count(*) AS n FROM r GROUP BY 1, 2, 3),
          |cls AS (
          |  SELECT q0, q1, sum(n) AS size, count(*) AS ldiv
          |  FROM cs GROUP BY 1, 2)
          |SELECT CAST(sum(size) AS BIGINT) AS n_rows,
          |  CAST(count(*) AS BIGINT) AS n_classes,
          |  CAST(min(size) AS BIGINT) AS min_class_size,
          |  CAST(sum(CASE WHEN size < 5 THEN size ELSE 0 END) AS BIGINT)
          |    AS rows_below_k,
          |  CAST(sum(CASE WHEN size < 5 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS classes_below_k,
          |  CAST(min(ldiv) AS BIGINT) AS min_l_diversity,
          |  CAST(sum(CASE WHEN ldiv < 2 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS classes_below_l
          |FROM cls""".stripMargin,

      "q_slice_accuracy" ->
        """WITH r AS (
          |  SELECT coalesce(source, '__null__') AS slice,
          |    CASE WHEN (CAST(doc_id AS BIGINT) * 7) % 3
          |            = (CAST(doc_id AS BIGINT) * 11) % 3
          |         THEN 1 ELSE 0 END AS c
          |  FROM documents),
          |per AS (
          |  SELECT slice, count(*) AS n, sum(c) AS n_correct
          |  FROM r GROUP BY 1),
          |oa AS (
          |  SELECT sum(n_correct) * 1.0 / sum(n) AS o FROM per)
          |SELECT slice, CAST(n AS BIGINT) AS n,
          |  CAST(n_correct AS BIGINT) AS n_correct,
          |  round(n_correct * 1.0 / n, 9) AS accuracy,
          |  round(n_correct * 1.0 / n - o, 9) AS gap_vs_overall
          |FROM per, oa ORDER BY slice""".stripMargin,

      "q_regression" ->
        """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
          |r AS (
          |  SELECT ((id * 13) % 101) / 100.0 AS x,
          |    (((id * 13) % 101) + ((id * 7) % 13)) / 113.0 AS y
          |  FROM d),
          |s AS (
          |  SELECT count(*) AS n, sum(abs(x - y)) AS sae,
          |    sum((x - y) * (x - y)) AS sse,
          |    sum(x) AS sx, sum(y) AS sy,
          |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
          |  FROM r)
          |SELECT CAST(n AS BIGINT) AS n,
          |  round(sae / n, 9) AS mae, round(sqrt(sse / n), 9) AS rmse,
          |  round(CASE WHEN syy - sy * sy / n > 0
          |             THEN 1.0 - sse / (syy - sy * sy / n)
          |             ELSE 0.0 END, 9) AS r2,
          |  round(CASE WHEN n * sxx - sx * sx > 0
          |              AND n * syy - sy * sy > 0
          |             THEN (n * sxy - sx * sy)
          |               / sqrt((n * sxx - sx * sx)
          |                      * (n * syy - sy * sy))
          |             ELSE 0.0 END, 9) AS pearson
          |FROM s""".stripMargin,

      "q_spearman" ->
        """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
          |r AS (
          |  SELECT ((id * 13) % 101) / 100.0 AS x,
          |    CAST((id * 29) % 89 AS DOUBLE) AS y
          |  FROM d),
          |ga AS (SELECT x AS v, count(*) AS c FROM r GROUP BY 1),
          |ra AS (
          |  SELECT v, coalesce(sum(c) OVER (ORDER BY v
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |    + (c + 1) / 2.0 AS rk
          |  FROM ga),
          |gb AS (SELECT y AS v, count(*) AS c FROM r GROUP BY 1),
          |rb AS (
          |  SELECT v, coalesce(sum(c) OVER (ORDER BY v
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |    + (c + 1) / 2.0 AS rk
          |  FROM gb),
          |p AS (
          |  SELECT ra.rk AS a, rb.rk AS b
          |  FROM r JOIN ra ON r.x = ra.v JOIN rb ON r.y = rb.v),
          |s AS (
          |  SELECT count(*) AS n, sum(a) AS sx, sum(b) AS sy,
          |    sum(a * a) AS sxx, sum(b * b) AS syy, sum(a * b) AS sxy
          |  FROM p)
          |SELECT CAST(n AS BIGINT) AS n,
          |  round(CASE WHEN n * sxx - sx * sx > 0
          |              AND n * syy - sy * sy > 0
          |             THEN (n * sxy - sx * sy)
          |               / sqrt((n * sxx - sx * sx)
          |                      * (n * syy - sy * sy))
          |             ELSE 0.0 END, 9) AS spearman
          |FROM s""".stripMargin,

      "q_twoprop" ->
        s"""WITH r AS (
          |  SELECT CAST(CAST(doc_id AS BIGINT) % 2 AS VARCHAR) AS g,
          |    CAST(((CAST(doc_id AS BIGINT) * 37) % 97) % 2 AS DOUBLE)
          |      AS y
          |  FROM documents),
          |a AS (SELECT g, count(*) AS n, sum(y) AS s FROM r GROUP BY 1),
          |v AS (
          |  SELECT aa.g AS group_a, bb.g AS group_b,
          |    aa.n AS n_a, bb.n AS n_b, aa.s AS sa, bb.s AS sb,
          |    (aa.s + bb.s) / (aa.n + bb.n) AS pool
          |  FROM a aa, a bb WHERE aa.g < bb.g),
          |zc AS (
          |  SELECT *, CASE
          |    WHEN sqrt(pool * (1 - pool) * (1.0 / n_a + 1.0 / n_b)) > 0
          |    THEN (sa / n_a - sb / n_b)
          |      / sqrt(pool * (1 - pool) * (1.0 / n_a + 1.0 / n_b))
          |    ELSE 0.0 END AS zq
          |  FROM v),
          |px AS (SELECT *, sqrt(zq * zq / 2.0) AS xq FROM zc)
          |SELECT group_a, group_b,
          |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
          |  round(sa / n_a, 9) AS p_a, round(sb / n_b, 9) AS p_b,
          |  round(zq, 9) AS z,
          |  round(least(1.0, ${erfccSql("xq")}), 9) AS p_value
          |FROM px""".stripMargin,

      // the k-th order statistic replayed as ORDER BY / OFFSET; the
      // coverage side is an exact 0/1 mean
      "q_conformal" ->
        """WITH d AS (
          |  SELECT CAST(doc_id AS BIGINT) AS id,
          |    ((CAST(doc_id AS BIGINT) * 31) % 211) / 211.0 AS score
          |  FROM documents),
          |cal AS (SELECT score FROM d WHERE id % 2 = 0),
          |tst AS (SELECT score FROM d WHERE id % 2 = 1),
          |nn AS (SELECT count(*) AS n FROM cal),
          |kk AS (
          |  SELECT n, CAST(ceil((n + 1) * 0.9) AS BIGINT) AS k FROM nn),
          |th AS (
          |  SELECT score AS threshold FROM cal ORDER BY score
          |  LIMIT 1 OFFSET (SELECT k - 1 FROM kk))
          |SELECT kk.n AS n_cal, kk.k AS k,
          |  round(th.threshold, 9) AS threshold,
          |  (SELECT count(*) FROM tst) AS n_test,
          |  round((SELECT avg(CASE WHEN score <= th.threshold
          |                         THEN 1.0 ELSE 0.0 END) FROM tst), 9)
          |    AS coverage
          |FROM kk, th""".stripMargin,

      "q_s5_tensor" -> {
        val terms = for (c <- 0 to 3; p <- 0 to 1) yield
          s"sqrt((l_quantity + $c) * (l_quantity + $c) + (l_discount * $p) * (l_discount * $p))"
        val slicedTerms = for (c <- 0 to 1; p <- 0 to 1) yield
          s"sqrt((l_quantity + $c) * (l_quantity + $c) + (l_discount * $p) * (l_discount * $p))"
        s"""SELECT $liKeySql,
           |  round((${terms.mkString(" + ")}) / 8, 6) AS amp,
           |  round((${slicedTerms.mkString(" + ")}) / 4, 6) AS amp_sliced
           |FROM lineitem ORDER BY $liKeySql""".stripMargin
      },

      "q_sql_udf" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
          |           WHERE vec_id < 10)
          |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |  round(list_dot_product(a.v, b.v)
          |    / (sqrt(list_dot_product(a.v, a.v))
          |       * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
          |FROM e a JOIN e b ON a.vec_id < b.vec_id
          |ORDER BY 1, 2""".stripMargin,

      "q_agg_weighted" ->
        """SELECT l_returnflag,
          |  round(sum(l_quantity * l_extendedprice) / sum(l_extendedprice), 6)
          |    AS wmean_qty
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_image_dedup" ->
        """SELECT doc_id AS id_a, doc_id + 1 AS id_b, CAST(1 AS INT) AS hamming
          |FROM documents WHERE doc_id % 2 = 0 AND doc_id < 240
          |ORDER BY 1, 2""".stripMargin,

      "q_audio_dedup" ->
        """SELECT doc_id AS id_a, doc_id + 1 AS id_b, CAST(1 AS INT) AS hamming
          |FROM documents WHERE doc_id % 2 = 0 AND doc_id < 240
          |ORDER BY 1, 2""".stripMargin,

      "q_multimodal" ->
        """SELECT doc_id, 'image' AS kind,
          |  CAST(strlen(text) AS BIGINT) AS byte_len,
          |  md5(text) AS digest
          |FROM documents ORDER BY doc_id""".stripMargin
    )
  }
}
