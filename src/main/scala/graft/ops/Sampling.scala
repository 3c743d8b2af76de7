package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Deterministic sampling and sequence packing for training-data
  * pipelines: reproducible corpus subsampling (global, stratified, and
  * per-source mixture weights) and greedy packing of documents into
  * fixed-token-budget training sequences.
  *
  * Scale design (100 TB):
  *  - sampling is a scan-side filter on a hash of the row key — no
  *    shuffle, no RNG state, no `sample()` nondeterminism; the same row
  *    set is selected on any cluster size, any partitioning, any engine
  *    (the hash is md5, which every engine reproduces bit-for-bit)
  *  - packing shuffles once on the group column and streams each group in
  *    sorted order (`flatMapSortedGroups` — Spark's secondary sort, so a
  *    group never materialises in memory); real pipelines pack within
  *    shards exactly like this
  */
/** Output row of [[Sampling.assemblePackedIds]]. Top-level on purpose: a
  * case class nested inside the object makes the Dataset encoder's
  * generated Java fail to compile (janino cannot resolve the nested
  * accessors), silently demoting every pack-assembly task to the
  * interpreted projection path.
  */
private[graft] final case class PackedRow(grp: String, pack_id: Int,
                                          packed_ids: Seq[Int],
                                          doc_ids: Seq[Long],
                                          n_docs: Long, n_ids: Long)

object Sampling {

  /** Fail fast when the input already carries a column name an operator is
    * about to introduce — `withColumn` would silently REPLACE the user's
    * data otherwise (and a later rename would leave ambiguous duplicates).
    */
  private def requireFreeColumns(df: DataFrame, names: Seq[String],
                                 op: String): Unit = {
    val clash = names.filter(df.columns.contains)
    require(clash.isEmpty,
      s"$op reserves output column name(s) ${clash.mkString(", ")} — " +
        "rename or drop them in the input frame first")
  }

  /** First 8 hex chars of md5(key) — a uniform 32-bit draw in hex,
    * lexicographically comparable (md5 hex is lowercase in Spark, DuckDB,
    * Python, …). The basis of every deterministic sampler here.
    */
  def hashBucket(key: Column): Column =
    substring(md5(key.cast("string")), 1, 8)

  /** Hex threshold such that P(hashBucket(key) < threshold) = fraction
    * for a uniform hash.
    */
  def thresholdHex(fraction: Double): String = {
    require(fraction >= 0 && fraction <= 1, s"fraction in [0,1]: $fraction")
    // "g" sorts after every hex digit, so fraction 1.0 keeps ALL rows
    // (a 0xffffffff threshold would drop the one-in-4-billion max hash)
    if (fraction >= 1.0) "g"
    else f"${(fraction * 4294967296.0).toLong}%08x"
  }

  /** Keep ~`fraction` of rows, chosen deterministically by `keyCol`. */
  def deterministicSample(df: DataFrame, keyCol: String,
                          fraction: Double): DataFrame =
    df.filter(hashBucket(col(keyCol)) < lit(thresholdHex(fraction)))

  /** Stratified deterministic sample: per-stratum keep rates (the
    * "mixture weights" step of corpus assembly — e.g. upsample code,
    * downsample CommonCrawl), `defaultRate` for strata not listed.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
                       rates: Seq[(String, Double)],
                       defaultRate: Double): DataFrame = {
    val threshold = rates.foldRight(lit(thresholdHex(defaultRate))) {
      case ((stratum, rate), acc) =>
        when(col(stratumCol) === stratum, lit(thresholdHex(rate))).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol)) < threshold)
  }

  /** Greedy sequence packing: within each `groupCol` shard, walk documents
    * in `orderCol` order and assign pack ids so each pack's token total
    * stays ≤ `maxTokens` (a document larger than the budget gets a pack of
    * its own). Returns (group, ord, n_tokens, pack_id, pack_cum) — the
    * assignment a sequence-packing writer would consume.
    *
    * One shuffle on the group column; each group streams through the
    * executor in sorted order via `flatMapSortedGroups` (secondary sort),
    * so memory is O(1) per group regardless of shard size. The walk is
    * inherently sequential per shard — shard granularity (source, file,
    * date…) is the parallelism dial, exactly as in production packers.
    */
  /** Length-sorted batch planning for a padded dataloader: global sort
    * by (token count, `orderCol`), contiguous runs of `batchSize` rows
    * become batches — the standard pad-waste reducer (rows in a batch
    * pad to the batch max, so grouping similar lengths shrinks
    * `batch_max · rows − Σ len`). Returns the input plus `n_tokens`,
    * `batch_id`, `batch_pos`; [[batchPadStats]] rolls that into the
    * per-batch padding audit. Deterministic: the order key breaks
    * length ties, so assignment is a pure function of the data.
    *
    * Scale shape: ONE range-partitioned global sort (sampled
    * boundaries, no single-task window), positions from
    * [[graft.api.MSTable.zipWithRowId]] — same machinery and same
    * `assumeDeterministic` pin trade-off as [[deterministicShuffle]].
    */
  def lengthSortedBatches(df: DataFrame, orderCol: String,
                          tokenCount: Column, batchSize: Int,
                          assumeDeterministic: Boolean = false): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1: $batchSize")
    // checked on the FULL frame: orderCol itself may not be a reserved
    // name either — orderCol == "n_tokens" would silently replace the
    // tie-break key and break the documented determinism
    requireFreeColumns(df,
      Seq("n_tokens", "batch_id", "batch_pos", graft.api.MSTable.RowId),
      "lengthSortedBatches")
    val sorted = df.withColumn("n_tokens", tokenCount.cast("long"))
      .orderBy(col("n_tokens"), col(orderCol))
    graft.api.MSTable.zipWithRowId(sorted, pin = !assumeDeterministic)
      .withColumn("batch_id",
        (col(graft.api.MSTable.RowId) / batchSize).cast("long"))
      .withColumn("batch_pos",
        (col(graft.api.MSTable.RowId) % batchSize).cast("int"))
      .drop(graft.api.MSTable.RowId)
  }

  /** Per-batch padding audit over a [[lengthSortedBatches]] assignment:
    * rows, max/sum token counts, and `pad_waste` = rows · max − sum (the
    * pad tokens a fixed-shape batch burns). One hash-aggregate. */
  def batchPadStats(assigned: DataFrame): DataFrame =
    assigned.groupBy("batch_id").agg(
      count(lit(1)).as("n_rows"),
      max("n_tokens").as("max_tokens"),
      sum("n_tokens").as("sum_tokens"),
      (count(lit(1)) * max("n_tokens") - sum("n_tokens")).as("pad_waste"))

  def packSequences(docs: DataFrame, groupCol: String, orderCol: String,
                    tokenCount: Column, maxTokens: Int): DataFrame = {
    requireFreeColumns(docs.drop(groupCol, orderCol),
      Seq("n_tokens", "pack_id", "pack_cum"), "packSequences")
    val spark = docs.sparkSession
    import spark.implicits._
    val base: Dataset[(String, Long, Int)] = docs.select(
        col(groupCol).cast("string").as("__grp"),
        col(orderCol).cast("long").as("__ord"),
        tokenCount.cast("int").as("__nt"))
      .as[(String, Long, Int)]
    base.groupByKey(_._1)
      // secondary sort on the token count makes duplicate order keys
      // deterministic (shuffle arrival order must never pick the packing)
      .flatMapSortedGroups($"__ord", $"__nt") { (grp, it) =>
        var pack = 0
        var cum = 0
        it.map { case (_, ord, nt) =>
          val (p2, c2, _) = packStep(pack, cum, nt, maxTokens)
          pack = p2; cum = c2
          (grp, ord, nt, pack, cum)
        }
      }
      .toDF(groupCol, orderCol, "n_tokens", "pack_id", "pack_cum")
  }

  /** Offline first-fit-decreasing packing — the quality tier above the
    * streaming-greedy [[packSequences]]: within each `groupCol` shard,
    * documents are walked in DESCENDING token order (ties broken by
    * `orderCol`) and each is placed into the lowest-numbered open pack
    * with room, opening a new pack only when none fits. FFD is the
    * classic bin-packing heuristic (≤ 11/9·OPT + 6/9, Johnson 1973); on
    * real length distributions it closes most of greedy's tail waste
    * because small documents backfill the large documents' remainders.
    *
    * Same contract as [[packSequences]]: returns (group, ord, n_tokens,
    * pack_id, pack_cum) with pack ids 1-based per group and `pack_cum`
    * the pack's running total after this document; a document larger
    * than `maxTokens` gets a pack of its own. Deterministic: assignment
    * is a pure function of the data (secondary sort, no arrival-order
    * dependence).
    *
    * Scale shape: ONE shuffle on the group column; each group streams
    * through `flatMapSortedGroups` with per-task state bounded by the
    * open-bin census — at most `maxOpenBins` (pack_id, used) pairs, NOT
    * the group: when the census would exceed the cap, the fullest bin is
    * retired (it has the least useful remainder), so memory stays O(cap)
    * on a shard of any size at the cost of a bounded quality loss.
    * Placement scans the census linearly — O(docs · openBins) per group;
    * at the default cap that is the cost of the sort it already rides.
    */
  def packSequencesFFD(docs: DataFrame, groupCol: String, orderCol: String,
                       tokenCount: Column, maxTokens: Int,
                       maxOpenBins: Int = 1024): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1: $maxTokens")
    require(maxOpenBins >= 1, s"maxOpenBins must be >= 1: $maxOpenBins")
    requireFreeColumns(docs.drop(groupCol, orderCol),
      Seq("n_tokens", "pack_id", "pack_cum"), "packSequencesFFD")
    val spark = docs.sparkSession
    import spark.implicits._
    val base: Dataset[(String, Long, Int)] = docs.select(
        col(groupCol).cast("string").as("__grp"),
        col(orderCol).cast("long").as("__ord"),
        tokenCount.cast("int").as("__nt"))
      .as[(String, Long, Int)]
    base.groupByKey(_._1)
      .flatMapSortedGroups($"__nt".desc, $"__ord") { (grp, it) =>
        val bins = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        var nextPack = 1
        var prevOrd = Long.MinValue
        var prevNt = Int.MinValue
        it.map { case (_, ord, nt) =>
          requireNoFfdTie("packSequencesFFD", grp, prevOrd, prevNt, ord, nt)
          prevOrd = ord; prevNt = nt
          val (pid, cum, np, _) = ffdStep(bins, nextPack, nt, maxTokens,
            maxOpenBins)
          nextPack = np
          (grp, ord, nt, pid, cum)
        }
      }
      .toDF(groupCol, orderCol, "n_tokens", "pack_id", "pack_cum")
  }

  /** FFD determinism guard, shared by [[packSequencesFFD]] and
    * [[assemblePackedIdsFFD]]: both walk (token count desc, orderCol),
    * a TOTAL order unless two rows of one group tie on BOTH keys — and
    * exactly that ambiguous class would leave the tie order (and with
    * it the documented "pack ids and memberships identical by
    * construction" parity between the two walks) to shuffle arrival.
    * Tied rows are ADJACENT in the sorted walk, so the check rides the
    * kernel at zero extra passes: call per row with the previous row's
    * keys, refuse loudly on an exact repeat (the WebDataset
    * duplicate-key convention). Duplicate order keys with DIFFERENT
    * token counts stay totally ordered and are allowed.
    */
  private def requireNoFfdTie(what: String, grp: String, prevOrd: Long,
                              prevNt: Int, ord: Long, nt: Int): Unit =
    require(!(ord == prevOrd && nt == prevNt),
      s"$what: duplicate (group, order) row at order=$ord (token count " +
        s"$nt) in group '$grp' — the FFD tie order would be " +
        "shuffle-arrival-dependent; make the order key unique")

  /** The ONE first-fit-decreasing placement rule, shared by
    * [[packSequencesFFD]] and [[assemblePackedIdsFFD]] so their pack
    * boundaries can never desync. The census `bins` holds (pack_id,
    * used) in pack-id order and is MUTATED in place: first-fit scans it
    * linearly, a miss opens pack `nextPack`, and a census past
    * `maxOpenBins` retires the fullest bin (smallest remainder — least
    * chance of ever accepting another, still-smaller, doc; an overfull
    * doc's own bin can be the retiree). Returns (packId, cumAfter,
    * nextPack', retiredPackId).
    */
  private def ffdStep(bins: scala.collection.mutable.ArrayBuffer[(Int, Int)],
                      nextPack: Int, nt: Int, maxTokens: Int,
                      maxOpenBins: Int): (Int, Int, Int, Option[Int]) = {
    val i = bins.indexWhere { case (_, used) => used + nt <= maxTokens }
    if (i >= 0) {
      val (p, used) = bins(i)
      bins(i) = (p, used + nt)
      (p, used + nt, nextPack, None)
    } else {
      val p = nextPack
      bins += ((p, nt))
      val retired =
        if (bins.size > maxOpenBins) {
          val k = bins.indices.maxBy(j => bins(j)._2)
          val rp = bins(k)._1
          bins.remove(k)
          Some(rp)
        } else None
      (p, nt, nextPack + 1, retired)
    }
  }

  /** Physical pack assembly under FIRST-FIT-DECREASING placement — the
    * dataloader-ready form of [[packSequencesFFD]], mirroring
    * [[assemblePackedIds]]'s contract: one row per (groupCol, pack_id)
    * with the pack's int-id sequences concatenated in PLACEMENT order
    * (descending token count, ties by `orderCol` — the FFD walk), each
    * document terminated by `sepId`; null id arrays raise. Pack ids and
    * memberships are identical to [[packSequencesFFD]] by construction
    * (the shared [[ffdStep]] rule AND the shared sort keys — ambiguous
    * (group, order, token count) ties are refused in-kernel by
    * [[requireNoFfdTie]]).
    *
    * Scale shape: the ids ride the same group-keyed desc-sorted
    * traversal that assigns the packs, so they cross the wire once and
    * the source is scanned once. Unlike the greedy assembly (one open
    * pack), FFD keeps up to `maxOpenBins` packs open, so per-task state
    * is bounded by cap · (maxTokens ids + doc ids) — order-of-MB at the
    * defaults (the generic buffers box their ints, the same trade the
    * greedy assembly makes); a bin's row is emitted the moment the
    * census retires it,
    * and the still-open bins drain in pack order at group end.
    */
  def assemblePackedIdsFFD(encoded: DataFrame, groupCol: String,
                           orderCol: String, idsCol: String,
                           tokenCount: Column, maxTokens: Int, sepId: Int,
                           maxOpenBins: Int = 1024): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1: $maxTokens")
    require(maxOpenBins >= 1, s"maxOpenBins must be >= 1: $maxOpenBins")
    val spark = encoded.sparkSession
    import spark.implicits._
    val base = encoded.select(
        col(groupCol).cast("string").as("__grp"),
        col(orderCol).cast("long").as("__ord"),
        tokenCount.cast("int").as("__nt"),
        col(idsCol).cast("array<int>").as("__ids"))
      .as[(String, Long, Int, Seq[Int])]
    // SAME sort keys as packSequencesFFD — adding __ids here would let a
    // duplicate-order tie walk in a different order than the placement
    // pass; ambiguous ties are refused in-kernel by the shared guard
    base.groupByKey(_._1)
      .flatMapSortedGroups($"__nt".desc, $"__ord") { (grp, it) =>
        val bins = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        val bufs = scala.collection.mutable.HashMap
          .empty[Int, (scala.collection.mutable.ArrayBuffer[Int],
                       scala.collection.mutable.ArrayBuffer[Long])]
        var nextPack = 1
        def rowOf(pid: Int): PackedRow = {
          val (ids, docs) = bufs.remove(pid).get
          PackedRow(grp, pid, ids.toSeq, docs.toSeq,
            docs.length.toLong, ids.length.toLong)
        }
        var prevOrd = Long.MinValue
        var prevNt = Int.MinValue
        val main = it.flatMap { case (_, ord, nt, seq) =>
          require(seq != null,
            s"assemblePackedIdsFFD: null $idsCol for $orderCol=$ord")
          requireNoFfdTie("assemblePackedIdsFFD", grp, prevOrd, prevNt,
            ord, nt)
          prevOrd = ord; prevNt = nt
          val (pid, _, np, retired) = ffdStep(bins, nextPack, nt, maxTokens,
            maxOpenBins)
          nextPack = np
          val (idsB, docsB) = bufs.getOrElseUpdate(pid,
            (scala.collection.mutable.ArrayBuffer.empty[Int],
             scala.collection.mutable.ArrayBuffer.empty[Long]))
          idsB ++= seq; idsB += sepId; docsB += ord
          retired.map(rowOf)
        }
        // ++'s by-name operand: the drain builds AFTER main exhausts, so
        // it sees exactly the bins still open at group end
        main ++ bufs.keys.toSeq.sorted.map(rowOf)
      }
      .toDF(groupCol, "pack_id", "packed_ids", "doc_ids", "n_docs", "n_ids")
  }

  /** Pack-level waste audit for a packing assignment ([[packSequences]]
    * or [[packSequencesFFD]]): per group, the number of packs, the token
    * total, and `pad_waste` = packs · maxTokens − Σ tokens — the pad
    * tokens a fixed-shape training row burns under that assignment. One
    * two-level hash-aggregate (pack totals, then group rollup). */
  def packWasteStats(assigned: DataFrame, groupCol: String,
                     maxTokens: Int): DataFrame =
    assigned.groupBy(col(groupCol), col("pack_id"))
      .agg(sum("n_tokens").as("__pt"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_packs"),
        sum("__pt").as("sum_tokens"),
        (count(lit(1)) * maxTokens - sum("__pt")).as("pad_waste"))

  /** The ONE greedy packing rule, shared by [[packSequences]] and
    * [[assemblePackedIds]] so their pack boundaries can never desync:
    * anchor (pack 0 → first doc opens pack 1), step (overflow opens a new
    * pack, otherwise accumulate). Returns (pack', cum', overflowed).
    */
  private def packStep(pack: Int, cum: Int, nt: Int,
                       maxTokens: Int): (Int, Int, Boolean) =
    if (pack == 0) (1, nt, false)
    else if (cum + nt > maxTokens) (pack + 1, nt, true)
    else (pack, cum + nt, false)

  /** Physical pack assembly — the dataloader-ready form of
    * [[packSequences]]: one row per (groupCol, pack_id) with the pack's
    * int-id sequences concatenated in pack order, each document terminated
    * by `sepId` (the GPT-style EOS convention — every document contributes
    * its ids plus exactly one separator, so a pack's id count is its token
    * total plus its document count). Returns (groupCol, pack_id,
    * packed_ids, doc_ids, n_docs, n_ids); groupCol comes back as string
    * and doc order as long, the [[packSequences]] normalization. A null
    * id array raises (the [[upsampleByWeight]] null-weight convention —
    * silently packing a null would corrupt a training row); null group
    * keys pack like any other group.
    *
    * Scale shape: the ids ride the SAME group-keyed sorted traversal that
    * assigns the packs (the [[packSequences]] walk with the payload
    * threaded through), so they cross the wire exactly once, the source is
    * scanned once, and per-task state is one pack's buffer (maxTokens ids
    * + its doc ids) — never the group. Emission is streaming: each pack
    * row is yielded as soon as the next document overflows it.
    */
  def assemblePackedIds(encoded: DataFrame, groupCol: String,
                        orderCol: String, idsCol: String,
                        tokenCount: Column, maxTokens: Int,
                        sepId: Int): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val base = encoded.select(
        col(groupCol).cast("string").as("__grp"),
        col(orderCol).cast("long").as("__ord"),
        tokenCount.cast("int").as("__nt"),
        col(idsCol).cast("array<int>").as("__ids"))
      .as[(String, Long, Int, Seq[Int])]
    base.groupByKey(_._1)
      // duplicate order keys: ties sort by (token count, id payload) so
      // the packing and the pack CONTENTS are shuffle-order independent
      .flatMapSortedGroups($"__ord", $"__nt", $"__ids") { (grp, it) =>
        new Iterator[PackedRow] {
          private var pack = 0
          private var cum = 0
          private val ids = scala.collection.mutable.ArrayBuffer[Int]()
          private val docs = scala.collection.mutable.ArrayBuffer[Long]()
          private var pending: PackedRow = null
          private def flush(): PackedRow = {
            val row = PackedRow(grp, pack, ids.toSeq, docs.toSeq,
              docs.length.toLong, ids.length.toLong)
            ids.clear(); docs.clear()
            row
          }
          private def append(ord: Long, seq: Seq[Int]): Unit = {
            require(seq != null,
              s"assemblePackedIds: null $idsCol for $orderCol=$ord")
            ids ++= seq; ids += sepId; docs += ord
          }
          @annotation.tailrec
          private def advance(): Unit =
            if (pending == null && it.hasNext) {
              val (_, ord, nt, seq) = it.next()
              val (p2, c2, overflowed) = packStep(pack, cum, nt, maxTokens)
              if (overflowed) pending = flush() // flush carries the OLD pack id
              pack = p2; cum = c2
              append(ord, seq)
              advance()
            }
          override def hasNext: Boolean = {
            advance()
            pending != null || docs.nonEmpty
          }
          override def next(): PackedRow = {
            advance()
            if (pending != null) { val r = pending; pending = null; r }
            else if (docs.nonEmpty) flush()
            else throw new NoSuchElementException("empty pack iterator")
          }
        }
      }
      .toDF(groupCol, "pack_id", "packed_ids", "doc_ids", "n_docs", "n_ids")
  }

  /** Temperature-rebalanced mixture weights (the multilingual-corpus
    * recipe of XLM-R, Conneau et al. 2020 §3.1, and mC4): a group g with
    * corpus share p_g is resampled to share q_g ∝ p_g^alpha, flattening
    * the distribution for alpha < 1 — low-resource groups upweighted,
    * head groups downweighted — while alpha = 1 is the identity. Returns
    * the per-row expected-copy weight w_g = totalScale · N · q_g / n_g,
    * ready for [[upsampleByWeight]]: the resampled corpus has
    * ~totalScale · N rows with group shares q_g.
    *
    * Scale shape: one bounded census (O(groups) driver state, like the
    * capPerStratum census), then the weight rides the scan as a CASE
    * literal — no join, no shuffle beyond the census agg. Weights are
    * rounded to 6 decimals so the downstream fractional-copy draw is
    * engine-stable (the same guard bm25 applies before ranking); rows
    * whose group was absent from the census (e.g. NULL) weigh 0 and are
    * dropped by the upsampler's `> 0` filter.
    */
  def temperatureWeights(df: DataFrame, groupCol: String, alpha: Double,
                         totalScale: Double = 1.0): Column = {
    require(alpha > 0, s"temperatureWeights: alpha must be positive: $alpha")
    require(totalScale > 0, s"temperatureWeights: totalScale positive: $totalScale")
    val counts: Seq[(String, Long)] = df.groupBy(groupCol).count().collect()
      .collect { case r if !r.isNullAt(0) => (r.get(0).toString, r.getLong(1)) }
      .toSeq.sortBy(_._1) // deterministic share-sum order
    require(counts.nonEmpty, "temperatureWeights: no non-null groups")
    val n = counts.map(_._2).sum.toDouble
    // alpha = 0.5 (the published default) goes through math.sqrt, which
    // ieee754 requires to be correctly rounded — math.pow(x, 0.5) is only
    // 1-ulp-accurate, so the oracle's bit-identity claim vs DuckDB's
    // sqrt() would not otherwise hold on every JVM
    def pw(x: Double): Double =
      if (alpha == 0.5) math.sqrt(x) else math.pow(x, alpha)
    val shares = counts.map { case (g, c) => (g, c, pw(c / n)) }
    val z = shares.map(_._3).sum
    val ws = shares.map { case (g, c, pa) =>
      // half-up 6-decimal round, the exact arithmetic the oracle mirrors
      (g, math.floor(totalScale * n * (pa / z) / c * 1e6 + 0.5) / 1e6)
    }
    // ONE flat CaseWhen, not a foldLeft of nested when().otherwise():
    // nesting depth = group count would blow codegen/analysis on a
    // high-cardinality group column (domain, not lang); the flat form is
    // a single O(groups)-branch node, the shape SQL CASE compiles to
    import org.apache.spark.sql.graft.ColumnShim.{toColumn, toExpression}
    val branches = ws.map { case (g, w) =>
      (toExpression(col(groupCol).cast("string") === g),
        toExpression(lit(w)))
    }
    toColumn(org.apache.spark.sql.catalyst.expressions.CaseWhen(
      branches, Some(toExpression(lit(0.0)))))
  }

  /** Loss-driven domain mixture reweighting — the one-step DoReMi
    * recipe (Xie et al. 2023, "DoReMi: Optimizing Data Mixtures Speeds
    * Up Language Model Pretraining", the exponentiated-gradient update
    * at its core): [[temperatureWeights]]/[[unimaxWeights]] rebalance by
    * SIZE alone; this rebalances by measured LEARNABILITY — domains
    * where a small proxy model's loss exceeds a reference model's
    * (excess loss = headroom still learnable) are upweighted
    * multiplicatively, domains already at the reference floor
    * (memorized or noise-dominated) decay toward their size share:
    * w_g ∝ share_g · exp(eta · max(0, L_proxy(g) − L_ref(g))),
    * normalized to Σ w_g = 1. The full published method iterates this
    * update while retraining the proxy; one step from measured losses
    * is the stationary reweighting pipelines actually apply between
    * training rounds. Null groups or null losses refuse (a silently
    * dropped domain would renormalize every other weight); the census
    * rides the one aggregate. One row per domain:
    * (grp, n_docs, share, excess_loss, weight), doubles rounded at 9;
    * feed `weight / share` per row into [[upsampleByWeight]] to realize
    * the mixture.
    *
    * Scale shape: ONE (group) hash aggregate over the corpus (counts +
    * loss sums + the null census), then exp/normalize arithmetic on
    * O(domains) tiny rows via one scalar cross join — no corpus-sized
    * shuffle beyond the aggregate, no window.
    */
  def excessLossWeights(df: DataFrame, groupCol: String,
                        proxyLossCol: String, refLossCol: String,
                        eta: Double = 1.0): DataFrame = {
    require(eta >= 0, s"excessLossWeights: eta must be >= 0: $eta")
    val bad = (col(groupCol).isNull || col(proxyLossCol).isNull ||
      col(refLossCol).isNull).cast("long")
    val per = df.groupBy(col(groupCol).cast("string").as("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(proxyLossCol).cast("double")).as("sp"),
        sum(col(refLossCol).cast("double")).as("sr"),
        sum(bad).as("__bad"))
      .localCheckpoint()
    val badRow = per.agg(sum("__bad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(nBad == 0,
      s"excessLossWeights: $nBad rows with null $groupCol/" +
        s"$proxyLossCol/$refLossCol — a dropped domain would silently " +
        "renormalize every other weight; clean the frame first")
    val tot = per.agg(sum("n_docs").as("nn"))
    val scored = per.crossJoin(tot).select(col("grp"), col("n_docs"),
      (col("n_docs").cast("double") / col("nn")).as("share"),
      greatest(lit(0.0),
        col("sp") / col("n_docs") - col("sr") / col("n_docs"))
        .as("excess"))
      .select(col("grp"), col("n_docs"), col("share"), col("excess"),
        (col("share") * exp(lit(eta) * col("excess"))).as("score"))
    val z = scored.agg(sum("score").as("z"))
    scored.crossJoin(z).select(col("grp"), col("n_docs"),
      round(col("share"), 9).as("share"),
      round(col("excess"), 9).as("excess_loss"),
      round(col("score") / col("z"), 9).as("weight"))
  }

  /** Leakage-safe train/validation/test split: every row of a GROUP
    * (site domain, source document, near-dup cluster rep…) lands in the
    * SAME split, decided by the group's md5 draw against cumulative
    * fraction thresholds — the GroupShuffleSplit discipline. Splitting
    * by row leaks: two near-identical pages from one site land on both
    * sides of the train/test fence and the eval is contaminated by
    * construction; splitting by the group key is the fix, and making the
    * draw a pure function of the group value makes the assignment stable
    * across runs, engines, and corpus growth (new rows of a known group
    * join its split). Adds a `split` column; fractions must sum to 1.
    *
    * Scale shape: a scan-side CASE over [[hashBucket]] of the group
    * column — no census, no join, no shuffle.
    */
  def splitByGroup(df: DataFrame, groupCol: String,
                   splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      s"splitByGroup: positive fractions required: $splits")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"splitByGroup: fractions must sum to 1: ${splits.map(_._2).sum}")
    requireFreeColumns(df, Seq("split"), "splitByGroup")
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    val draw = hashBucket(col(groupCol))
    // last split takes everything below threshold 1.0 ("g" > any hex) so
    // float accumulation error can never leave a row unassigned
    val assign = splits.init.zip(cum.init).foldRight(
      lit(splits.last._1): Column) { case (((name, _), c), acc) =>
      when(draw < lit(thresholdHex(c)), lit(name)).otherwise(acc)
    }
    df.withColumn("split", assign)
  }

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): split a total row budget across groups as UNIFORMLY
    * as possible, except no group repeats more than `maxEpochs` times —
    * the published alternative to temperature sampling whose knob is an
    * epoch CAP instead of an exponent. Water-filling on the group
    * census: groups whose full `size × maxEpochs` allotment fits under
    * the uniform share are capped there, and their leftover budget
    * re-splits uniformly among the rest, repeating until no new group
    * caps. Pure driver arithmetic on the O(groups) census —
    * deterministic, engine-independent.
    *
    * Returns (group, groupSize, epochs): epochs ∈ (0, maxEpochs] with
    * `Σ size·epochs = min(budget, Σ size·maxEpochs)` (the budget is
    * unreachable once every group is capped). Feed the epochs to
    * [[upsampleByWeight]] (via [[unimaxWeights]]) to materialize the
    * mixture.
    */
  def unimaxAllocation(sizes: Seq[(String, Long)], budget: Double,
                       maxEpochs: Double): Seq[(String, Long, Double)] = {
    require(sizes.nonEmpty, "unimaxAllocation: no groups")
    require(sizes.forall(_._2 > 0), "unimaxAllocation: group sizes positive")
    require(budget > 0 && maxEpochs > 0,
      s"unimaxAllocation: budget/maxEpochs positive: $budget/$maxEpochs")
    val total = math.min(budget, sizes.map(s => s._2 * maxEpochs).sum)
    val alloc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var open = sizes.sortBy(_._1) // deterministic order
    var remaining = total
    while (open.nonEmpty) {
      val fair = remaining / open.size
      val (capped, uncapped) = open.partition(_._2 * maxEpochs <= fair)
      if (capped.isEmpty) { // every iteration caps >= 1 group or ends here
        uncapped.foreach { case (g, _) => alloc(g) = fair }
        open = Nil
      } else {
        capped.foreach { case (g, n) => alloc(g) = n * maxEpochs }
        remaining -= capped.map(_._2 * maxEpochs).sum
        open = uncapped
      }
    }
    sizes.sortBy(_._1).map { case (g, n) => (g, n, alloc(g) / n) }
  }

  /** [[unimaxAllocation]] as a scan-side weight Column over `groupCol`
    * (the [[temperatureWeights]] shape: census → driver arithmetic → one
    * flat CASE literal riding the scan, 6-decimal rounded for an
    * engine-stable draw downstream). `budgetScale` is the target corpus
    * size as a multiple of the input rows (1.5 = "emit 1.5× the corpus").
    */
  def unimaxWeights(df: DataFrame, groupCol: String, budgetScale: Double,
                    maxEpochs: Double): Column = {
    val counts: Seq[(String, Long)] = df.groupBy(groupCol).count().collect()
      .collect { case r if !r.isNullAt(0) => (r.get(0).toString, r.getLong(1)) }
      .toSeq.sortBy(_._1)
    require(counts.nonEmpty, "unimaxWeights: no non-null groups")
    val budget = budgetScale * counts.map(_._2).sum
    val eps = unimaxAllocation(counts, budget, maxEpochs)
      .map { case (g, _, e) => (g, math.floor(e * 1e6 + 0.5) / 1e6) }
    import org.apache.spark.sql.graft.ColumnShim.{toColumn, toExpression}
    val branches = eps.map { case (g, w) =>
      (toExpression(col(groupCol).cast("string") === g),
        toExpression(lit(w)))
    }
    toColumn(org.apache.spark.sql.catalyst.expressions.CaseWhen(
      branches, Some(toExpression(lit(0.0)))))
  }

  /** Deterministic weighted UPSAMPLING — the epochs-greater-than-1 half of
    * mixture weighting ([[stratifiedSample]] covers rates ≤ 1): emit each
    * row `floor(w)` times plus one extra copy with probability
    * `frac(w)`, decided by the row's md5 draw — so "repeat wikipedia 2.4
    * epochs" replicates every row twice and a deterministic 40% of rows a
    * third time, the same 40% on any engine, cluster size, or
    * partitioning. Output adds `epoch` (0-based copy index); downstream,
    * shuffle on `concat(key, ':', epoch)` (e.g.
    * [[deterministicShuffle]]) so copies of a row land far apart in
    * training order.
    *
    * Scale shape: scan-side `explode(sequence(...))` — no shuffle, no RNG
    * state; output volume is Σ w(row), exactly the token budget the
    * mixture calls for. Weights < 1 also work (pure subsampling: 0 or 1
    * copies), making this a superset of rate-based sampling when a
    * single operator is preferred.
    */
  def upsampleByWeight(df: DataFrame, keyCol: String, weight: Column): DataFrame = {
    requireFreeColumns(df, Seq("epoch", "__w", "__nc"), "upsampleByWeight")
    // the md5 draw as a uniform double in [0,1): exact in ieee754 (32-bit
    // int / 2^32), so the same rows round up in DuckDB/Python/anywhere
    val draw = conv(hashBucket(col(keyCol)), 16, 10).cast("double") /
      lit(4294967296.0)
    // a negative weight is a caller bug (a mixture can drop, not owe), and
    // so is a NULL one (it would propagate to a null copy count and the
    // row would vanish in the > 0 filter — a silent drop masquerading as
    // a 0-weight): fail the job loudly in both cases
    val wc = weight.cast("double")
    // coalesce the key in the message: a null key would null the whole
    // concat and raise_error would fire with an empty diagnostic
    val keyStr = coalesce(col(keyCol).cast("string"), lit("<null>"))
    val w = when(wc.isNull, raise_error(concat(
        lit("upsampleByWeight: null weight for key "), keyStr)))
      .when(wc < 0, raise_error(concat(
        lit("upsampleByWeight: negative weight "), weight.cast("string"),
        lit(" for key "), keyStr)))
      .otherwise(wc)
    val copies = (floor(w).cast("long") +
      when(draw < (w - floor(w)), lit(1L)).otherwise(lit(0L))).as("__nc")
    df.withColumn("__nc", copies)
      .filter(col("__nc") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__nc") - 1)))
      .drop("__nc")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    * "Weighted random sampling with a reservoir"): keep the `n` rows with
    * the smallest exponential jitter `es_key = −ln(u)/w`, which selects
    * each row with probability proportional to its weight among the
    * not-yet-chosen — the quality-weighted subset-selection step
    * ("sample 10M documents ∝ quality score") that rate-based sampling
    * cannot express. `u` is the deterministic md5-uniform draw of the key
    * column in (0, 1], so the SAME sample comes back on any cluster, any
    * partitioning, any engine. Appends `es_key` (rounded to 9).
    *
    * Weight contract (the [[upsampleByWeight]] guard): NULL or negative
    * weights fail the job loudly; zero-weight rows get `es_key = +∞` and
    * are only drawn if fewer than `n` positive-weight rows exist.
    *
    * Scale shape: scan-side key computation + `orderBy(...).limit(n)` —
    * Spark plans TakeOrderedAndProject (per-partition bounded top-n
    * heaps, driver merge of n·partitions candidates), no global sort, no
    * full-frame shuffle. Ties (identical jitter) break on the key column,
    * keeping the selection total and reproducible.
    */
  def sampleByWeight(df: DataFrame, keyCol: String, weight: Column,
                     n: Int): DataFrame = {
    require(n > 0, s"sampleByWeight: n must be positive: $n")
    requireFreeColumns(df, Seq("es_key"), "sampleByWeight")
    // md5 draw shifted to (0,1]: u = 0 would make −ln(u) infinite for
    // every weight; u = 1 (es_key 0) is the benign endpoint
    val u = (conv(hashBucket(col(keyCol)), 16, 10).cast("double") + 1.0) /
      lit(4294967296.0)
    val wc = weight.cast("double")
    val keyStr = coalesce(col(keyCol).cast("string"), lit("<null>"))
    val w = when(wc.isNull, raise_error(concat(
        lit("sampleByWeight: null weight for key "), keyStr)))
      .when(wc < 0, raise_error(concat(
        lit("sampleByWeight: negative weight "), weight.cast("string"),
        lit(" for key "), keyStr)))
      .otherwise(wc)
    val esKey = when(w > 0, -log(u) / w)
      .otherwise(lit(Double.PositiveInfinity))
    // order by the UNROUNDED key (rounding first would collapse small
    // keys into coarse buckets and let the tie-break, not the weight,
    // pick); the emitted column rounds to 9 for engine-stable output
    df.withColumn("es_key", round(esKey, 9))
      .orderBy(esKey, col(keyCol))
      .limit(n)
  }

  /** Deterministic global shuffle for training-order assignment: every row
    * gets its position in the permutation induced by
    * md5(seed ‖ ":" ‖ key) — the same permutation on any cluster size, any
    * input partitioning, any engine (dataloader-reproducible epoch order;
    * change `seed` per epoch for a fresh permutation).
    *
    * Scale shape: ONE range-partitioned sort exchange on the 16-byte hash
    * (Spark's global sort — sampled range boundaries, no single-task
    * bottleneck), then contiguous positions from
    * [[graft.api.MSTable.zipWithRowId]]'s per-partition census and
    * offsets — a window over the whole frame would instead serialize into
    * one task. Ties (duplicate keys) break on the key itself, keeping the
    * order total and reproducible.
    *
    * The census and the emit are two jobs over the sorted rows, which are
    * pinned between them (see [[graft.api.MSTable.runningTotals]] for what
    * the pin guards and its executor-loss failure mode).
    * `assumeDeterministic = true` skips the pin when the input is a plain
    * deterministic scan, trading the materialization for a second read of
    * the sort. Applies equally to [[selectTokenBudget]] and
    * [[capPerStratum]].
    */
  def deterministicShuffle(df: DataFrame, keyCol: String,
                           seed: Long = 42L,
                           assumeDeterministic: Boolean = false): DataFrame = {
    // ROWID is reserved too: zipWithRowId appends it, so a pre-existing
    // one would survive the rename as an ambiguous duplicate
    requireFreeColumns(df,
      Seq("__sk", "shuffle_pos", graft.api.MSTable.RowId),
      "deterministicShuffle")
    val sk = md5(concat_ws(":", lit(seed.toString), col(keyCol).cast("string")))
    val sorted = df.withColumn("__sk", sk).orderBy(col("__sk"), col(keyCol))
    graft.api.MSTable.zipWithRowId(sorted, pin = !assumeDeterministic)
      .withColumnRenamed(graft.api.MSTable.RowId, "shuffle_pos")
      .drop("__sk")
  }

  /** Deterministic per-stratum cap: keep at most `cap` rows from each
    * stratum (source, domain, language…), chosen by the smallest md5 draw
    * of the key — "no single source may exceed N documents", the mixture
    * counterpart of [[stratifiedSample]] when the contract is a COUNT,
    * not a rate. The survivors are a pure function of (key, stratum), so
    * the same rows are kept on any engine, cluster size, or partitioning.
    * Output adds `stratum_rank` (1-based rank within the stratum).
    *
    * Scale shape: the naive formulation is `row_number() OVER (PARTITION
    * BY stratum ORDER BY hash)` ≤ cap — which serializes each stratum
    * into ONE window task (a 40%-of-corpus CommonCrawl stratum = one
    * task). Instead: one range-partitioned sort on (stratum, hash, key) —
    * big strata span many contiguous partitions — then
    * [[graft.api.MSTable.runningTotals]] with the stratum as run key: a
    * per-partition census of per-stratum counts (O(strata × partitions)
    * driver data) seeds each partition's running rank, and partitions
    * whose strata are all past the cap emit nothing. The sorted frame is
    * pinned across census + emit like the other census ops;
    * `assumeDeterministic` opts out.
    */
  def capPerStratum(df: DataFrame, keyCol: String, stratumCol: String,
                    cap: Long,
                    assumeDeterministic: Boolean = false): DataFrame = {
    require(cap > 0, s"cap must be positive: $cap")
    requireFreeColumns(df, Seq("__rk", "stratum_rank"), "capPerStratum")
    val sorted = df.withColumn("__rk", hashBucket(col(keyCol)))
      .orderBy(col(stratumCol), col("__rk"), col(keyCol))
    graft.api.MSTable.runningTotals(sorted, Seq(None -> "stratum_rank"),
        runKey = Some(stratumCol), pin = !assumeDeterministic,
        skipAbove = Some(cap))
      .filter(col("stratum_rank") <= cap)
      .drop("__rk")
  }

  /** Deterministic PROPORTIONAL INTERLEAVE of strata — the training-order
    * counterpart of [[temperatureWeights]]: after the mixture is chosen,
    * a dataloader should see a steady blend of domains, not all of one
    * source followed by all of the next. Each stratum's rows are put in
    * deterministic-shuffle order (the same (md5-draw, key) rank as
    * [[capPerStratum]]), and the rank-`r` row of a stratum with `n_g`
    * rows gets mixing position `(r − 0.5) / n_g` — stratum g's rows land
    * evenly spread across [0, 1) regardless of size, so ANY contiguous
    * slice of the output (a shard, an epoch fraction, a curriculum
    * phase) contains each stratum in ≈ its corpus proportion. Ties
    * (equal-size strata hit identical positions) break on
    * (stratum, key), so the order is a pure function of the data — the
    * same on any engine, cluster size, or partitioning.
    *
    * Output = input columns + `stratum_rank` (1-based within stratum) +
    * `interleave_pos` (0-based global training order).
    *
    * Scale shape: per-stratum ranks come from [[capPerStratum]]'s
    * census (range-sort + per-partition offsets — big strata span many
    * partitions, never a one-task-per-stratum window); stratum sizes are
    * an O(strata) aggregate broadcast back; the final order is one
    * range-partitioned sort on the position key, and the position ids
    * come from the same [[graft.api.MSTable.zipWithRowId]] the
    * deterministic shuffle uses — no single-task stage anywhere.
    */
  def interleaveStrata(df: DataFrame, keyCol: String, stratumCol: String,
                       assumeDeterministic: Boolean = false): DataFrame = {
    val sorted = interleaveSorted(df, keyCol, stratumCol, assumeDeterministic)
    graft.api.MSTable.zipWithRowId(sorted, pin = !assumeDeterministic)
      .withColumnRenamed(graft.api.MSTable.RowId, "interleave_pos")
      .select((df.columns.toSeq :+ "stratum_rank" :+ "interleave_pos")
        .map(col): _*)
  }

  /** [[interleaveStrata]] up to (and including) the mixing-position sort,
    * before position ids are zipped on — the stage whose physical plan
    * carries the scale contract (broadcast sizes join, range sort, no
    * per-stratum window), exposed so the plan audit can see it (the
    * zip's census boundary truncates the final frame's visible plan).
    */
  private[graft] def interleaveSorted(df: DataFrame, keyCol: String,
                                      stratumCol: String,
                                      assumeDeterministic: Boolean): DataFrame = {
    requireFreeColumns(df,
      Seq("stratum_rank", "interleave_pos", "__ng", "__p",
        graft.api.MSTable.RowId),
      "interleaveStrata")
    val ranked =
      capPerStratum(df, keyCol, stratumCol, Long.MaxValue, assumeDeterministic)
    val sizes = ranked.groupBy(stratumCol).agg(count(lit(1)).as("__ng"))
    ranked
      .join(broadcast(sizes), Seq(stratumCol))
      .withColumn("__p",
        (col("stratum_rank").cast("double") - 0.5) / col("__ng").cast("double"))
      .orderBy(col("__p"), col(stratumCol), col(keyCol))
  }

  // ---------------------------------------------------------------- shards

  /** Deterministic shard id in [0, nShards): the md5 32-bit draw of the
    * key, mod nShards. Engine-portable (md5 hex is identical everywhere)
    * and stable under any repartitioning — the property a training-data
    * export needs so a re-run (or a different engine) produces the SAME
    * shard membership, keeping downstream dataloader order reproducible.
    */
  def shardId(key: Column, nShards: Int): Column = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    conv(hashBucket(key), 16, 10).cast("long") % nShards
  }

  // ---------------------------------------------------------------- layout

  /** Z-order (Morton) value of `cols`: the low `bits` bits of each column
    * interleaved, bit j of column i landing at position j·k + i. Rows close
    * in z-value are close in EVERY interleaved dimension, so range-
    * partitioning by z-value clusters multi-dimensional locality into
    * files — parquet min/max footer stats then prune on ANY of the
    * dimensions, not just a lexicographic sort's leading one (the standard
    * lakehouse data-skipping layout). Pure long arithmetic — whole-stage
    * codegen, engine-portable bit-for-bit.
    *
    * Callers discretize first if a column exceeds `bits` bits (values are
    * masked to the low bits, which preserves locality only within the
    * mask range).
    */
  def zValue(cols: Seq[Column], bits: Int = 16): Column = {
    val k = cols.size
    require(k >= 2, s"zValue interleaves >= 2 columns (got $k)")
    require(k * bits <= 63, s"zValue: $k cols x $bits bits overflow a long")
    val terms = for {
      (c, i) <- cols.zipWithIndex
      j <- 0 until bits
    } yield shiftleft(shiftright(c.cast("long"), j).bitwiseAND(lit(1L)), j * k + i)
    terms.reduce(_ + _)
  }

  /** Cluster a table into `nFiles` z-ordered parquet files: one range-
    * partitioned exchange on the z-value (sampled boundaries — balanced
    * tasks, no single-task sort), a per-file sort, one file per task.
    * Every output file covers a compact z-range = a small bounding box in
    * all `cols`, so later scans filtering on any of them skip most files
    * on footer stats alone.
    */
  def zorderWrite(df: DataFrame, cols: Seq[String], outDir: String,
                  nFiles: Int, bits: Int = 16): Unit = {
    requireFreeColumns(df, Seq("__z"), "zorderWrite")
    df.withColumn("__z", zValue(cols.map(col), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)
  }

  /** Shard a corpus for training export: assign `shard` by [[shardId]] and
    * cluster rows so each output file holds exactly one shard.
    *
    * Scale shape: ONE shuffle keyed by the shard id (a small long),
    * through an IDENTITY partitioner — shard k lands in task k, every
    * task gets exactly one shard (plain `repartition(n, shard)` hashes the
    * id, so shards can collide into one task and leave others idle). A
    * 1000-executor write therefore streams nShards files in parallel with
    * no post-hoc compaction. Directory layout comes from
    * `partitionBy(shard)`, the standard layout dataloaders glob.
    */
  def exportShards(df: DataFrame, keyCol: String, nShards: Int,
                   outDir: String): Unit =
    shardClustered(df, keyCol, nShards)
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)

  /** [[exportShards]] in JSON-Lines form — the other format training
    * dataloaders consume directly. Same identity-partitioned layout; each
    * `shard=k/` directory holds one newline-delimited JSON file set.
    */
  def exportShardsJsonl(df: DataFrame, keyCol: String, nShards: Int,
                        outDir: String): Unit =
    shardClustered(df, keyCol, nShards)
      .write.mode("overwrite").partitionBy("shard").json(outDir)

  // Trade-off, eyes open: the RDD round-trip drops the final write out of
  // Catalyst/columnar execution (row serialization cost at 100 TB) but is
  // the only way to get EXACT shard→task placement — shard k in task k,
  // one file set per shard, no collisions. The planner-native alternative,
  // repartitionByRange(nShards, col("shard")), samples range boundaries
  // per execution: equal-width shards usually land 1:1, but boundary
  // sampling can merge two shards into one task (and leave another empty)
  // on skewed shard sizes, breaking the one-file-set-per-shard contract
  // dataloaders glob. Exactness wins; the serialization is paid once, at
  // export, on the narrow post-projection frame.
  private def shardClustered(df: DataFrame, keyCol: String,
                             nShards: Int): DataFrame = {
    requireFreeColumns(df, Seq("shard"), "exportShards")
    val spark = df.sparkSession
    val withShard = df.withColumn("shard", shardId(col(keyCol), nShards))
    val schema = withShard.schema
    val si = schema.fieldIndex("shard")
    val identity = new org.apache.spark.Partitioner {
      override def numPartitions: Int = nShards
      override def getPartition(key: Any): Int = key.asInstanceOf[Long].toInt
    }
    val rows = withShard.rdd.map(r => (r.getLong(si), r))
      .partitionBy(identity).values
    spark.createDataFrame(rows, schema)
  }

  // --------------------------------------------------------- budget select

  /** Token-budget corpus selection: walk rows from highest `priority` down
    * (ties broken by `keyCol` — the order is total, so the selection is
    * deterministic) and keep the prefix whose running token total stays
    * ≤ `budget` — exactly `sum(tokens) OVER (ORDER BY priority DESC, key)
    * <= budget`, computed without a one-task window. Returns the selected
    * rows plus (n_tokens, cum_tokens) — the "take the best N tokens" step
    * of corpus assembly.
    *
    * Scale shape: one range-partitioned sort exchange on (priority, key) —
    * no single-task global window — then
    * [[graft.api.MSTable.runningTotals]]: a per-partition token-sum census
    * (a tiny collect) seeds each partition's local running total, and
    * partitions whose offset already exceeds the budget emit nothing
    * without reading rows. The sorted frame is pinned across census +
    * emit; `assumeDeterministic = true` skips the pin (see
    * [[deterministicShuffle]]). Null token counts select as 0 tokens;
    * negative token counts fail the census loudly (they would silently
    * corrupt the running total).
    */
  def selectTokenBudget(df: DataFrame, keyCol: String, priority: Column,
                        tokens: Column, budget: Long,
                        assumeDeterministic: Boolean = false): DataFrame = {
    requireFreeColumns(df, Seq("__nt", "n_tokens", "cum_tokens"),
      "selectTokenBudget")
    val sorted = df
      .withColumn("__nt", coalesce(tokens.cast("long"), lit(0L)))
      .orderBy(priority.desc, col(keyCol))
    graft.api.MSTable.runningTotals(sorted, Seq(Some("__nt") -> "cum_tokens"),
        pin = !assumeDeterministic, skipAbove = Some(budget),
        negativeError = Some("selectTokenBudget: negative token count"))
      .filter(col("cum_tokens") <= budget)
      .withColumnRenamed("__nt", "n_tokens")
  }
}
