package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-aggregate (map-side partial combine) on a
  *    64/128-bit digest — never on the full text
  *  - MinHash/LSH turns the quadratic all-pairs problem into an equi-join
  *    on (band, bandHash) buckets: the only shuffle keys are small longs,
  *    and bucket size is capped so a degenerate key cannot explode a task
  *  - verification (true Jaccard) runs only on candidate pairs
  *  - everything is `Column` algebra / higher-order functions; the one
  *    driver-side object is the seed list for the hash family
  */
object Dedup {

  // ------------------------------------------------------------------ exact

  /** Exact dedup: keep the smallest `idCol` per distinct `textCol`.
    * Grouping key is a 128-bit md5 digest, not the document body, so the
    * shuffle carries 16 bytes + id per row.
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .withColumn("__digest", md5(col(textCol)))
      .groupBy(col("__digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("__digest")

  /** Exact-dup row filter: retain one representative row per text. */
  def exactKeepFirst(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = exact(docs, textCol, idCol).select(idCol)
    docs.join(keep, Seq(idCol), "left_semi")
  }

  // -------------------------------------------------------------- shingling

  /** Whitespace word tokens for gram building: lowercased, zero-length
    * tokens dropped. Spark's split keeps trailing empty strings and trim
    * strips only spaces, so text ending in a tab/newline would otherwise
    * inject a phantom "" token into the gram space — and any two gram
    * operators that disagree on filtering would disagree on gram sets for
    * exactly such documents. ONE definition for every gram operator in
    * this module.
    */
  private[graft] def gramTokens(text: Column): Column =
    filter(split(trim(lower(text)), "\\s+"), t => length(t) > 0)

  /** Every word n-gram OCCURRENCE in order (duplicates kept),
    * lowercased — THE single gram-window definition; [[wordShingles]]
    * is its distinct view and the diversity diagnostics
    * ([[graft.ops.TextAnalysis.distinctN]]) count its raw form, so the
    * dedup family and the diagnostics can never diverge on what a gram
    * is. */
  def wordShingleOccurrences(text: Column, n: Int): Column = {
    val toks = gramTokens(text)
    filter(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => when(i + n <= size(toks),
          concat_ws(" ", slice(toks, i + 1, lit(n))))),
      s => s.isNotNull)
  }

  /** Word n-gram shingles (distinct), lowercased. */
  def wordShingles(text: Column, n: Int): Column =
    array_distinct(wordShingleOccurrences(text, n))

  /** Character n-gram shingles (distinct). */
  def charShingles(text: Column, n: Int): Column =
    array_distinct(
      transform(sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
        i => text.substr(i, lit(n))))

  /** Shingles hashed to 64-bit longs. At pair-join scale this is the form
    * that matters: the arrays crossing the shuffle shrink ~8×, and set
    * intersection runs on longs instead of strings. Set sizes and
    * intersections are preserved modulo 64-bit collisions (P ≈ n²/2⁶⁵ —
    * negligible at any realistic shingle count).
    */
  def hashedWordShingles(text: Column, n: Int): Column =
    array_distinct(transform(wordShingles(text, n), s => xxhash64(s)))

  /** The form the operators actually use at scale: tokenize ONCE into a
    * materialised column (the repartition is a deliberate pipeline breaker —
    * without it CollapseProject inlines the `split` into the shingling
    * lambda and Spark re-tokenises the document once PER SHINGLE POSITION),
    * then build per-position shingle hashes with O(1) `element_at` lookups
    * and one multi-argument xxhash64 — no intermediate shingle strings.
    *
    * Output: `idCol ++ blockCols ++ sh: array<long>` (distinct hashes).
    * Same sets as `hashedWordShingles` modulo the hash mixing function.
    */
  def shingleFrame(docs: DataFrame, textCol: String, idCol: String,
                   blockCols: Seq[String], n: Int): DataFrame = {
    import graft.expr.VectorExprs.hashed_shingles
    val toks = gramTokens(col(textCol))
    docs.select(
        (Seq(col(idCol), hashed_shingles(toks, n).as("sh")) ++ blockCols.map(col)): _*)
      .filter(size(col("sh")) > 0)
  }

  // ---------------------------------------------------------------- minhash

  /** k MinHash signature values over a PRE-HASHED (long) shingle array:
    * one tight pass per row via the custom [[graft.expr.VectorExprs.MinHashSig]]
    * Catalyst expression (k running minima of XXH64(shingle, seed=i)).
    */
  def minHashSignature(hashedShingles: Column, k: Int): Column =
    graft.expr.VectorExprs.minhash_sig(hashedShingles, k)

  /** Choose the LSH `(bands, rowsPerBand)` split of a `sigLen`-hash
    * MinHash signature for a target Jaccard `threshold`, so callers give
    * the semantic knob ("pairs at >= 0.6 similar") and not the S-curve
    * trade-off. With b bands of r rows, P(candidate | jaccard s) =
    * 1-(1-s^r)^b; the optimum minimizes the weighted FP+FN probability
    * mass around the threshold —
    * {{{ fpW * ∫_0^t P(s) ds  +  fnW * ∫_t^1 (1-P(s)) ds }}}
    * — by brute-force enumeration of the divisor pairs of `sigLen`
    * (standard MMDS ch.3 tuning; the same criterion the public
    * datasketch library optimizes). Deterministic; ties break toward
    * fewer bands (cheaper: fewer banded rows to shuffle).
    *
    * Driver-side O(divisors(sigLen) * steps) arithmetic — nothing touches
    * the cluster; call once and reuse.
    */
  def lshParams(threshold: Double, sigLen: Int, fpWeight: Double = 0.5,
                fnWeight: Double = 0.5): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1): $threshold")
    require(sigLen >= 1, s"sigLen must be >= 1: $sigLen")
    require(fpWeight >= 0 && fnWeight >= 0 && fpWeight + fnWeight > 0,
      s"weights must be >= 0 and not both 0: $fpWeight, $fnWeight")
    val steps = 1000
    def cost(b: Int, r: Int): Double = {
      def p(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, r), b)
      var fp = 0.0
      var fn = 0.0
      val dxFp = threshold / steps
      val dxFn = (1.0 - threshold) / steps
      var i = 0
      while (i < steps) {
        fp += p((i + 0.5) * dxFp) * dxFp
        fn += (1.0 - p(threshold + (i + 0.5) * dxFn)) * dxFn
        i += 1
      }
      fpWeight * fp + fnWeight * fn
    }
    (1 to sigLen).filter(sigLen % _ == 0).map(b => (b, sigLen / b))
      .minBy { case (b, r) => cost(b, r) }
  }

  /** MinHash + LSH candidate pairs.
    *
    * @param bands   number of LSH bands; rows-per-band = k / bands.
    *                P(candidate | jaccard s) = 1-(1-s^r)^b.
    * @param maxBucket safety cap: buckets larger than this (degenerate
    *                content, e.g. empty docs) are dropped rather than
    *                exploding into n² pairs — standard skew guard.
    * @return (id_a, id_b) candidate pairs, id_a < id_b, distinct.
    */
  def minHashCandidates(docs: DataFrame, textCol: String, idCol: String,
                        shingleWords: Int = 3, k: Int = 32, bands: Int = 8,
                        maxBucket: Int = 1000): DataFrame =
    minHashCandidatesFromShingles(
      shingleFrame(docs, textCol, idCol, Nil, shingleWords), idCol,
      k, bands, maxBucket)

  /** Candidate pairs from a pre-built shingle frame (`idCol`, `sh`).
    *
    * Shuffle discipline: signature + band hashes are one composed
    * custom-expression tree computed ONCE below a (band, bh) repartition;
    * both consumers of the banded rows (the bucket-size census and the
    * bucket self-join) read that single exchange, so the per-row MinHash
    * pass never re-runs. The skew guard is a groupBy census + broadcast
    * anti-join of the (rare) oversized buckets — no per-band window sort.
    */
  private[ops] def minHashCandidatesFromShingles(sh: DataFrame, idCol: String,
                                                 k: Int, bands: Int,
                                                 maxBucket: Int,
                                                 sizeRatio: Double = 0.0): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    import graft.expr.VectorExprs.{band_hashes, minhash_sig}
    // EAGER localCheckpoint (r21): the banded rows feed the census, the
    // anti-join, and both sides of the bucket self-join — without the
    // barrier the optimizer specializes each branch below the repartition
    // and the per-row MinHash signature pass re-runs per consumer (the
    // "single exchange" the scaladoc promises needs a materialization
    // point, not just a shared subplan)
    val banded = sh.select(
        col(idCol), size(col("sh")).as("__sz"),
        posexplode(band_hashes(minhash_sig(col("sh"), k), bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
      .select(col(idCol), col("__sz"), col("band"), col("bh"))
      .repartition(col("band"), col("bh"))
      .localCheckpoint()

    // skew guard: census the buckets, anti-join away the degenerate ones
    // (empty/boilerplate docs) before they can explode into n² pairs
    val oversized = banded.groupBy("band", "bh")
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > maxBucket)
      .select("band", "bh")
    val sized = banded.join(broadcast(oversized), Seq("band", "bh"), "left_anti")

    val a = sized.select(col("band"), col("bh"), col(idCol).as("id_a"),
      col("__sz").as("__na"))
    val b = sized.select(col("band"), col("bh"), col(idCol).as("id_b"),
      col("__sz").as("__nb"))
    a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      // size-ratio prune (AllPairs, Bayardo et al. WWW'07): jaccard ≥ t
      // requires min(|A|,|B|) ≥ t·max(|A|,|B|) — a band collision between
      // wildly different-sized sets cannot verify, so it never reaches
      // the candidate distinct or the verify join. sizeRatio = 0 keeps
      // every collision (the raw-candidates contract).
      .filter(least(col("__na"), col("__nb")).cast("double") >=
        lit(sizeRatio) * greatest(col("__na"), col("__nb")).cast("double"))
      .select("id_a", "id_b").distinct()
  }

  /** MinHash LSH dedup end-to-end: candidates → exact word-Jaccard verify →
    * pairs with jaccard ≥ threshold.
    *
    * Tokenization (the dominant CPU) runs ONCE: the shingle frame is
    * repartitioned by id and that single exchange feeds all three
    * consumers — the banding pass and both sides of the verify join.
    */
  def minHashDedup(docs: DataFrame, textCol: String, idCol: String,
                   threshold: Double, shingleWords: Int = 3,
                   k: Int = 32, bands: Option[Int] = None): DataFrame = {
    // bands = None (the default) self-tunes from the threshold via the
    // S-curve optimum — the caller states the semantic knob only. The
    // opt-out is typed (Some(b)), not a 0 sentinel a caller could pass
    // by accident.
    val b = bands.getOrElse(lshParams(threshold, k)._1)
    // EAGER localCheckpoint (r21): sh feeds the signature/band branch and
    // BOTH verify joins — same re-tokenization hazard as
    // [[ngramJaccardPairs]] (the optimizer specializes each branch below
    // the repartition and the corpus gets tokenized three times)
    val sh = shingleFrame(docs, textCol, idCol, Nil, shingleWords)
      .repartition(col(idCol))
      .localCheckpoint()
    // candidates are pre-pruned by the size-ratio bound at the band join
    // (jaccard ≥ t ⟹ sizes within factor t), so pairs that cannot verify
    // never pay the two full-array verify joins
    val cands = minHashCandidatesFromShingles(sh, idCol, k, b,
      maxBucket = 1000, sizeRatio = threshold)
    val withSets = cands
      .join(sh.withColumnRenamed(idCol, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed(idCol, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    withSets
      .withColumn("jaccard", jaccardCol(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  // ----------------------------------------------------- n-gram Jaccard

  /** |A ∩ B| / |A ∪ B| over two distinct-element arrays. */
  def jaccardCol(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0, lit(0d)).otherwise(inter / union)
  }

  /** Exact n-gram (word-shingle) Jaccard pairs with jaccard ≥ `threshold`,
    * optionally restricted to same-`blockCols` pairs. Result-identical to
    * the all-pairs formulation (for threshold > 0), but never all-pairs:
    *
    *  - shingles travel as hashed longs ([[shingleFrame]]), not strings
    *  - **prefix filtering** (AllPairs/PPJoin, Bayardo et al. WWW'07):
    *    shingle arrays are already sorted, and under any global total order
    *    two sets with jaccard ≥ t must share a token within their first
    *    `|x| − ⌈t·|x|⌉ + 1` tokens — so only that prefix is exploded into
    *    the candidate join. A shingle shared by m documents generates
    *    candidate pairs only among the docs holding it in-prefix
    *    (expected ≈ (1−t)²·m² instead of m²), which is what keeps a hot
    *    boilerplate shingle from exploding the join at scale
    *  - **positional filter** (PPJoin proper): each prefix token carries
    *    its position; a shared token at positions (pa, pb) bounds the
    *    overlap by min(|A|−pa, |B|−pb), and jaccard ≥ t needs overlap
    *    ≥ t/(1+t)·(|A|+|B|) — occurrences that cannot reach the bound are
    *    dropped BEFORE the candidate distinct. (The first common token of
    *    any true pair sits in both prefixes and sees the full overlap, so
    *    no true pair is lost.)
    *  - **size-ratio prune**: jaccard ≥ t ⟹ min(|A|,|B|) ≥ t·max(|A|,|B|);
    *    applied on the candidate join output before the distinct
    *  - **verify**: surviving candidate pairs re-join the full (hashed)
    *    shingle arrays and compute exact Jaccard; tokenisation still runs
    *    only once — candidates and both verify sides all read the single
    *    id-partitioned shingle exchange
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                        blockCols: Seq[String], n: Int,
                        threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"ngramJaccardPairs needs 0 < threshold <= 1 (got $threshold): " +
        "zero-intersection pairs are never generated by the co-shingle join")
    // EAGER localCheckpoint (r21): the shingle frame feeds the candidate
    // branch and BOTH verify sides. Without a materialization barrier the
    // optimizer pushes each branch's pruning below the repartition,
    // the exchange subtrees stop being equal, ReuseExchange never fires,
    // and the executed plan re-tokenizes the corpus FOUR times — with the
    // pushed size(sh) > 0 filters additionally inlining the tokenizer
    // expression several times per row (measured in the r21 plan dump;
    // the "single id-partitioned shingle exchange" the scaladoc promises
    // only holds with the barrier). One tokenization pass materialized
    // once is also the 100 TB-sane shape: shingles are ~8 B/token.
    val base = shingleFrame(docs, textCol, idCol, blockCols, n)
      .repartition(col(idCol))
      .localCheckpoint()
    // prefix length |sh| − ⌈t·|sh|⌉ + 1 (sh is sorted ascending = the
    // global token order); ⌈t·|sh|⌉ ≤ |sh| so the prefix is never empty
    val pfxLen = (size(col("sh")) -
      ceil(size(col("sh")).cast("double") * threshold).cast("int") + 1)
    // NOTE (r21, measured): a second barrier here (checkpointing the
    // exploded prefix frame for the two self-join sides) was tried and
    // is net-NEGATIVE — re-exploding from the cached base is cheaper
    // than the extra materialization job. Only the tokenization barrier
    // above pays for itself.
    val tok = base
      .withColumn("__sz", size(col("sh")))
      .withColumn("__pfx", slice(col("sh"), lit(1), pfxLen))
      .select((blockCols.map(col) :+ col(idCol) :+ col("__sz") :+
        posexplode(col("__pfx")).as(Seq("__p", "__t"))): _*)
      .repartition((blockCols :+ "__t").map(col): _*)
    val x = tok.select((blockCols.map(col) :+ col("__t") :+
      col(idCol).as("id_a") :+ col("__sz").as("__na") :+ col("__p").as("__pa")): _*)
    val y = tok.select((blockCols.map(col) :+ col("__t") :+
      col(idCol).as("id_b") :+ col("__sz").as("__nb") :+ col("__p").as("__pb")): _*)
    // overlap needed for jaccard ≥ t: O ≥ t/(1+t)·(|A|+|B|)
    val alpha = (col("__na") + col("__nb")).cast("double") *
      (threshold / (1.0 + threshold)) - 1e-9
    val cands = x.join(y, blockCols :+ "__t")
      .filter(col("id_a") < col("id_b"))
      // size-ratio prune (ε guards the float boundary from over-pruning)
      .filter(least(col("__na"), col("__nb")).cast("double") >=
        greatest(col("__na"), col("__nb")).cast("double") * threshold - 1e-9)
      // positional filter: tokens at (pa, pb) (0-based) can witness at most
      // min(|A|−pa, |B|−pb) overlapping tokens
      .filter(least(col("__na") - col("__pa"), col("__nb") - col("__pb"))
        .cast("double") >= alpha)
      .select("id_a", "id_b").distinct()
    val sets = base.select(col(idCol).as("__id"), col("sh"))
    cands
      .join(sets.withColumnRenamed("__id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sets.withColumnRenamed("__id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard", jaccardCol(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact duplicated-span statistics (substring-level dedup, Lee et al.
    * 2022 "Deduplicating Training Data Makes Language Models Better"): a
    * span is an `n`-token window; a doc's span is DUPLICATED when the same
    * window also occurs in at least `minDf − 1` OTHER documents (within-doc
    * repeats don't count — spans are distinct per doc, matching the
    * shingle-set semantics of the rest of this module). Returns one row per
    * input document: (idCol, n_spans, dup_spans, dup_frac) — the inputs to
    * span-level filtering/trimming policies.
    *
    * Scale shape: spans travel as hashed longs ([[shingleFrame]], counts
    * match string windows modulo 64-bit collisions); the explode ships 8 B
    * per span position; the duplicated-span set is the output of a
    * hash-agg FILTERED to df ≥ minDf (a tiny fraction of the gram space at
    * any threshold), so the join back is grams ⋈ small-set semi-join; the
    * two per-doc aggregates are partial-agg'd map-side. No all-pairs
    * structure anywhere — cost is O(corpus tokens), not O(docs²).
    */
  def duplicateSpanStats(docs: DataFrame, textCol: String, idCol: String,
                         n: Int = 5, minDf: Long = 2): DataFrame = {
    // EAGER localCheckpoint (r21): the exploded gram frame feeds two
    // consumers (the df census and the flagging join) — without the
    // barrier each one re-tokenizes and re-explodes the corpus
    val grams = shingleFrame(docs, textCol, idCol, Nil, n)
      .select(col(idCol), explode(col("sh")).as("__h"))
      .localCheckpoint()
    // r22: the duplicated sliver rides ONE left join back onto the gram
    // frame and BOTH per-doc counts fold in the SAME doc-keyed aggregate
    // (count(__df) counts only rows that matched a duplicated gram) —
    // previously a semi-join plus two separate per-doc aggregates plus an
    // extra doc-keyed assembly join
    val dupSet = grams.groupBy("__h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf).select("__h", "__df")
    val perDoc = grams.join(dupSet, Seq("__h"), "left")
      .groupBy(idCol).agg(count(lit(1)).as("n_spans"),
        count(col("__df")).as("dup_spans"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        round(coalesce(col("dup_spans"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_spans"), lit(0L)), lit(1L)).cast("double"), 6)
          .as("dup_frac"))
  }

  /** Duplicate-segment REMOVAL — the text-rewriting sibling of
    * [[duplicateSpanStats]], i.e. CCNet/RefinedWeb-style boilerplate
    * dedup at token-segment granularity: cut a document into consecutive
    * `segTokens`-token segments, drop every segment whose exact text
    * occurs ≥ `minDf` times across the corpus (headers, footers, license
    * blocks, navigation chrome), and reassemble the surviving segments in
    * order. Returns (idCol, clean_text, n_segments, n_dropped) for every
    * input document (a fully-boilerplate document comes back with
    * clean_text = ''; an empty or whitespace-only document reports
    * n_segments = 0 — zero-length tokens are dropped before segmenting,
    * so empty segments can never enter the duplicate set).
    *
    * Scale shape: no pair structure anywhere — one explode to (doc, seg#,
    * segment), a hash-aggregate for the duplicated-segment set keyed on
    * md5(segment) (16-byte keys; the dup set is the df ≥ minDf OUTPUT, a
    * small fraction of segment space at any threshold), an anti-join back,
    * and one doc-keyed shuffle to reassemble. Cost is O(corpus tokens) —
    * the segment bytes cross the wire once, which a text-rewriting
    * operator cannot avoid.
    */
  def dedupTextSegments(docs: DataFrame, textCol: String, idCol: String,
                        segTokens: Int = 10, minDf: Long = 2): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive: $segTokens")
    val segs = docs
      .select(col(idCol), posexplode(split(trim(col(textCol)), "\\s+")))
      // split of a trimmed string yields an empty token ONLY for the
      // empty/whitespace-only input ([""]); dropping it keeps positions
      // gap-free and gives such documents n_segments = 0
      .filter(length(col("col")) > 0)
      .withColumn("__ci", floor(col("pos") / segTokens))
      .groupBy(col(idCol), col("__ci"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("col")))),
          x => x.getField("col")), " ").as("__seg"))
    val dupSet = segs.groupBy(md5(col("__seg")).as("__h"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf).select("__h")
    val kept = segs.join(dupSet.withColumnRenamed("__h", "__hh"),
        md5(col("__seg")) === col("__hh"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__ci"), col("__seg")))),
          x => x.getField("__seg")), " ").as("clean_text"),
        count(lit(1)).as("__nkept"))
    val counts = segs.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_segments"))
    docs.select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        (coalesce(col("n_segments"), lit(0L)) -
          coalesce(col("__nkept"), lit(0L))).as("n_dropped"))
  }

  /** Cross-document LINE deduplication, keep-first (Wenzek et al. 2020
    * §3.1 — CCNet removes every repeated paragraph/line across shards
    * but KEEPS one copy; contrast [[dedupTextSegments]], which drops ALL
    * copies of a duplicated fixed-token segment). A line occurrence
    * survives iff it is the first occurrence of that exact line in the
    * corpus, ordered by (`idCol`, line position) — deterministic
    * regardless of partitioning. Returns (idCol, dedup_text — surviving
    * lines rejoined with \n, n_lines, n_kept) for every input document.
    *
    * Scale shape: lines explode scan-side (posexplode of a split — no
    * join to build them); the first-occurrence table is a hash-aggregate
    * keyed by the line (partial agg makes repeated boilerplate lines —
    * THE skew case for a window-function formulation — collapse map-side
    * to one row per partition before the shuffle); the occurrence stream
    * joins it co-partitioned on the same key (AQE splits any residual
    * skew), and one doc-keyed shuffle reassembles. Line bytes cross the
    * wire once — unavoidable for a text-rewriting operator. The
    * first-occurrence key packs (doc rank, position) into one long via
    * `posBase` (strictly larger than any line count per doc), so the
    * min-aggregate is a primitive `min(long)`.
    */
  def dedupLinesKeepFirst(docs: DataFrame, textCol: String, idCol: String,
                          posBase: Long = 1000000L): DataFrame = {
    require(posBase > 0, s"dedupLinesKeepFirst: posBase positive: $posBase")
    require(docs.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"dedupLinesKeepFirst: $idCol must be numeric to pack the order key")
    val occ = docs
      // a NULL text explodes to zero rows and would silently drop the
      // document from the output; treat it as one empty line instead
      .select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")), "\n")))
      .withColumnRenamed("col", "__line")
      // the packed key is only an order embedding while pos < posBase AND
      // |id| <= Long.MaxValue/posBase (hash-derived 64-bit ids would wrap
      // the multiply) AND the id is non-null (a null key would make min()
      // skip the occurrence and silently drop the document's lines) —
      // fail loudly on all three, not silently corrupt keep-first order
      .withColumn("__k", when(col(idCol).isNull,
        raise_error(lit("dedupLinesKeepFirst: null id")))
        .when(abs(col(idCol).cast("long")) > Long.MaxValue / posBase ||
            col(idCol).cast("long") === Long.MinValue, // abs() wraps on it
          raise_error(concat(
            lit(s"dedupLinesKeepFirst: id overflows posBase=$posBase packing: "),
            col(idCol).cast("string"))))
        .when(col("pos") < posBase,
          col(idCol).cast("long") * posBase + col("pos"))
        .otherwise(raise_error(concat(
          lit(s"dedupLinesKeepFirst: document exceeds posBase=$posBase lines: "),
          col(idCol).cast("string")))))
    val first = occ.groupBy("__line").agg(min(col("__k")).as("__first"))
    val kept = occ.join(first, Seq("__line"))
      .withColumn("__keep", col("__k") === col("__first"))
    kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("pos"), col("__line"))))),
          x => x.getField("__line")), "\n").as("dedup_text"))
      .select(col(idCol), col("dedup_text"), col("n_lines"), col("n_kept"))
  }

  /** Benchmark decontamination: flag corpus documents that share at least
    * one word `n`-gram with any document in `bench` (the eval-suite side) —
    * the standard n-gram-overlap contamination check run before training.
    * Returns (idCol, n_shared) for contaminated documents, where n_shared
    * counts the distinct benchmark n-grams present in the document.
    *
    * Scale shape: the benchmark set is small (eval suites are KBs–MBs
    * against a 100 TB corpus), so its distinct gram set is broadcast and
    * the corpus side is a scan → explode → broadcast-hash-join → partial
    * agg — no all-to-all shuffle of corpus grams. Grams travel as hashed
    * longs ([[shingleFrame]]); counts match string n-grams modulo 64-bit
    * collisions.
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame, textCol: String,
                    idCol: String, n: Int): DataFrame = {
    val corpusGrams = shingleFrame(corpus, textCol, idCol, Nil, n)
      .select(col(idCol), explode(col("sh")).as("__g"))
    val benchGrams = shingleFrame(bench, textCol, idCol, Nil, n)
      .select(explode(col("sh")).as("__g")).distinct()
    corpusGrams.join(broadcast(benchGrams), "__g")
      // sh is distinct per document, so plain count = distinct grams shared
      .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
  }

  /** Decontamination filter: corpus rows with no benchmark n-gram overlap. */
  def decontaminateKeep(corpus: DataFrame, bench: DataFrame, textCol: String,
                        idCol: String, n: Int): DataFrame =
    corpus.join(decontaminate(corpus, bench, textCol, idCol, n).select(idCol),
      Seq(idCol), "left_anti")

  /** Contamination SPAN SCRUB — the text-rewriting sibling of
    * [[decontaminateKeep]] (the published GPT-3 mitigation: remove the
    * colliding window plus surrounding context instead of dropping the
    * whole document, splitting the document at each removal; Brown et al.
    * 2020, appendix C). Locate every word `n`-gram the document shares
    * with the benchmark, mark the window's tokens plus `pad` tokens either
    * side for removal, and reassemble each surviving run of consecutive
    * tokens as a PIECE — pieces are joined with '\n' in `scrub_text`, and
    * downstream consumers treat pieces as separate documents. The split
    * (rather than a plain rejoin) is what guarantees the output is clean:
    * every n-gram inside a piece was a consecutive n-gram of the original
    * document, so a benchmark gram cannot re-form across a removal seam.
    * Returns (idCol, scrub_text, n_tokens, n_removed, n_pieces) for EVERY
    * corpus document — clean documents come back with n_removed = 0,
    * n_pieces = 1, and their text whitespace-normalized + lowercased (the
    * same tokenization every gram operator here applies; a rewriting
    * operator cannot preserve raw spacing).
    *
    * Scale shape: the benchmark gram set broadcasts (same argument as
    * [[decontaminate]]); the corpus pays one scan-side gram explode into
    * the broadcast-hash-join, a doc-keyed agg of HIT POSITIONS only
    * (bounded by tokens/doc), and one doc-keyed join back; the
    * mask-and-reassemble is pure Column algebra on the scan (O(tokens)
    * per row — the seam test is an O(1) element_at against the previous
    * kept index). Grams travel as hashed longs — overlap detection
    * matches string n-grams modulo 64-bit collisions.
    */
  /** POSITIONAL gram hashes: element i = hash of the word n-gram starting
    * at token i. [[graft.expr.VectorExprs.HashedShingles]] sorts + dedups
    * (it computes gram SETS), so its array index carries no position —
    * the span operators need the position, and xxhash64 over the
    * space-joined gram (tokens cannot contain spaces) keeps the whole
    * build inside codegen'd built-ins.
    *
    * CALLER CONTRACT (r22, measured): pass `ts` as a PROJECTED attribute
    * (`df.select(gramTokens(...).as("__toks")).select(...this...)`),
    * never as an inline tokenizer subtree — `ts` is captured inside the
    * `transform` lambda (the slice), where an inline subtree re-evaluates
    * once per gram POSITION: O(tokens²) per document (4.4 s vs 0.5 s for
    * the q_dedup_spans recount at sf0.1). A multiply-referenced alias
    * survives CollapseProject, so the projection form tokenizes once.
    */
  private[graft] def positionalGramHashes(ts: Column, n: Int): Column =
    when(size(ts) < n, lit(Array.empty[Long]))
      .otherwise(transform(sequence(lit(0), size(ts) - n),
        i => xxhash64(concat_ws(" ", slice(ts, i + 1, lit(n))))))

  def decontaminateScrub(corpus: DataFrame, bench: DataFrame, textCol: String,
                         idCol: String, n: Int, pad: Int = 0): DataFrame = {
    require(n > 0 && pad >= 0, s"decontaminateScrub: n > 0, pad >= 0: $n/$pad")
    // null text is an empty document here (the full-roster contract);
    // gramTokens drops zero-length tokens, so gram positions and the
    // token count see the same array
    val toks = gramTokens(coalesce(col(textCol), lit("")))
    val corp = corpus.select(col(idCol), toks.as("__toks"))
    val grams = corp
      .select(col(idCol), posexplode(positionalGramHashes(col("__toks"), n)))
      .withColumnRenamed("pos", "__p").withColumnRenamed("col", "__g")
    // project the bench tokens to an attribute FIRST: inlining the
    // tokenizer subtree into the gram transform captures it inside the
    // lambda, where it re-runs once per gram position (O(tokens²) per doc)
    val benchGrams = bench.select(toks.as("__btoks"))
      .select(explode(positionalGramHashes(col("__btoks"), n)).as("__g"))
      .distinct()
    val hits = grams.join(broadcast(benchGrams), "__g")
      .groupBy(idCol).agg(collect_set(col("__p")).as("__hp"))
    scrubAssemble(corp, hits, idCol, n, pad)
  }

  /** Shared mask-and-reassemble tail of the span scrubbers: given the
    * tokenized corpus (`idCol`, `__toks`) and per-doc hit START positions
    * (`idCol`, `__hp`), remove [p−pad, p+n−1+pad] for every hit and
    * rebuild the surviving runs as '\n'-joined PIECES (see
    * [[decontaminateScrub]] for why the split is what keeps the output
    * clean). Pure Column algebra on the scan after one doc-keyed join.
    */
  private def scrubAssemble(corp: DataFrame, hits: DataFrame, idCol: String,
                            n: Int, pad: Int): DataFrame = {
    val L = size(col("__toks"))
    // removal mask: union of [p-pad, p+n-1+pad] clamped to the document
    val removed = array_sort(array_distinct(flatten(transform(col("__hp"),
      p => sequence(greatest(p - pad, lit(0)),
        least(p + lit(n - 1 + pad), L - 1))))))
    // the L = 0 guard matters: Spark's sequence(0, -1) is the DESCENDING
    // two-element sequence [0, -1], not empty. array_except builds a hash
    // set of __rm once per row — O(tokens), where a per-index
    // array_contains filter would be O(tokens × removed) on heavily
    // contaminated documents — and preserves the first array's ascending
    // order (both inputs are duplicate-free).
    val keptIdx = when(L === 0, lit(Array.empty[Int]))
      .otherwise(array_except(sequence(lit(0), L - 1), col("__rm")))
    // one pass over the kept indices: prefix each token with '' (first),
    // ' ' (consecutive run continues) or '\n' (removal seam → new piece).
    // `when` evaluates lazily, so element_at(__kp, i) only runs at i >= 1.
    val assembled = array_join(transform(col("__kp"), (j, i) =>
      concat(
        when(i === lit(0), lit(""))
          .when(j === element_at(col("__kp"), i) + 1, lit(" "))
          .otherwise(lit("\n")),
        element_at(col("__toks"), j + 1))), "")
    corp.join(hits, Seq(idCol), "left")
      .withColumn("__hp", coalesce(col("__hp"), lit(Array.empty[Int])))
      .withColumn("__rm", removed)
      .withColumn("__kp", keptIdx)
      .select(col(idCol),
        assembled.as("scrub_text"),
        L.cast("long").as("n_tokens"),
        size(col("__rm")).cast("long").as("n_removed"),
        when(size(col("__kp")) === 0, lit(0L)).otherwise(
          size(split(assembled, "\n")).cast("long")).as("n_pieces"))
  }

  /** [[decontaminateScrub]] with the pieces exploded into rows — the form
    * a pipeline consumes (each piece continues as a first-class document).
    * Returns (idCol, piece_idx, textCol) where piece_idx is the piece's
    * 0-based position in its source document; fully-scrubbed and empty
    * documents contribute no rows. Pure scan-side explode on top of the
    * scrub — no additional shuffle.
    */
  def decontaminateScrubPieces(corpus: DataFrame, bench: DataFrame,
                               textCol: String, idCol: String, n: Int,
                               pad: Int = 0): DataFrame =
    decontaminateScrub(corpus, bench, textCol, idCol, n, pad)
      .filter(length(col("scrub_text")) > 0)
      .select(col(idCol), posexplode(split(col("scrub_text"), "\n")))
      .select(col(idCol), col("pos").as("piece_idx"), col("col").as(textCol))

  /** CROSS-DOCUMENT duplicate-SPAN removal, keep-first (the ExactSubstr
    * mitigation of Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better", at word-window granularity): every word
    * `n`-gram occurrence whose gram appears more than once in the corpus
    * is removed — EXCEPT the globally first occurrence (smallest
    * (`idCol`, position)), which survives as the canonical copy. Removal
    * reuses the span-scrub mask-and-reassemble, so survivors come back
    * as '\n'-joined pieces and no duplicated gram can re-form across a
    * seam. The guarantee (and the derived check `q_dedup_spans` pins):
    * after the rewrite, each originally-duplicated gram survives AT MOST
    * once corpus-wide — every output gram is a consecutive original
    * gram, and every non-keeper occurrence had its window destroyed.
    * Complements [[dedupTextSegments]] (fixed disjoint blocks, removes
    * ALL copies) with arbitrary-alignment windows and a canonical
    * survivor. Returns the [[decontaminateScrub]] shape.
    *
    * Scale shape: positional grams explode once (O(tokens)); the df
    * census is a partial-aggregating hash-agg on the gram hash, and only
    * grams with df > 1 — the duplicated sliver — flow on: keepers are a
    * `min(struct(id, pos))` agg (no per-gram window task, boilerplate
    * grams with millions of copies partial-aggregate map-side), the
    * non-keeper filter is one joined comparison, and the rebuild is the
    * shared O(tokens) scan pass. Never O(docs²), never O(occurrences²).
    */
  def dedupSpansKeepFirst(docs: DataFrame, textCol: String, idCol: String,
                          n: Int, pad: Int = 0): DataFrame =
    dedupSpansKeepFirstCore(docs, textCol, idCol, n, pad)._1

  /** [[dedupSpansKeepFirst]] plus the duplicated-gram SET (one `g` row
    * per gram hash with corpus-wide occurrence count > 1, computed from
    * the operator's own materialized gram frame) — exposed so derived
    * checks can audit the rewrite without re-tokenizing and re-exploding
    * the corpus a second time. The set is definitionally identical to
    * re-deriving it from the raw documents (same tokenizer, same
    * positional gram hashes, same df > 1 census over ALL positional
    * occurrences).
    *
    * r22 shape: the positional gram explode is barriered with an eager
    * localCheckpoint — it previously fed the df census plus BOTH dupOcc
    * consumers (keepers, hits), and Catalyst's per-branch specialization
    * re-tokenized and re-exploded the corpus for each (the r21
    * ngram/minhash lesson); the df census and the keeper argmin now ride
    * ONE partial-agg'd hash aggregate (count + min(struct)) instead of an
    * aggregate each plus a gram-keyed join between them. Keeper selection
    * stays an AGGREGATE, not a per-gram window — boilerplate grams with
    * millions of copies partial-aggregate map-side (the PlanAuditSpec
    * pin). */
  private[graft] def dedupSpansKeepFirstCore(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int, pad: Int = 0): (DataFrame, DataFrame) = {
    require(n > 0 && pad >= 0, s"dedupSpansKeepFirst: n > 0, pad >= 0: $n/$pad")
    val toks = gramTokens(coalesce(col(textCol), lit("")))
    val corp = docs.select(col(idCol), toks.as("__toks"))
    val grams = corp
      .select(col(idCol), posexplode(positionalGramHashes(col("__toks"), n)))
      .withColumnRenamed("pos", "__p").withColumnRenamed("col", "__g")
      .localCheckpoint()
    // ONE census: per-gram occurrence count and the canonical keeper
    // (smallest (id, pos)) in the same hash aggregate, filtered to the
    // duplicated sliver
    val census = grams.groupBy("__g")
      .agg(count(lit(1)).as("__df"),
        min(struct(col(idCol), col("__p"))).as("__k"))
      .filter(col("__df") > 1)
    val hits = grams.join(census, "__g")
      .filter(!(col(idCol) === col("__k")(idCol) &&
        col("__p") === col("__k")("__p")))
      .groupBy(idCol).agg(collect_set(col("__p")).as("__hp"))
    (scrubAssemble(corp, hits, idCol, n, pad), census.select(col("__g")))
  }

  /** SEMANTIC decontamination: flag corpus documents whose embedding is
    * within cosine `threshold` of ANY benchmark embedding — the fuzzy
    * complement of the exact n-gram checks above (paraphrased or
    * reformatted eval material shares no n-grams but stays close in
    * embedding space; flagging near-neighbors of the eval set is the
    * published mitigation). Returns (idCol, max_cosine rounded to 6,
    * n_hits = benchmark vectors within threshold) for flagged documents.
    *
    * Scale shape: eval suites are small, so the benchmark embedding set
    * broadcasts and the corpus is ONE scan against it (the
    * [[Similarity.bruteForceTopK]] broadcast-queries shape with the roles
    * reversed); the per-doc reduce is a partial-agg'd max/count. No
    * corpus-side shuffle of vectors, no pair materialization beyond the
    * scan×broadcast product each task streams through.
    */
  def decontaminateSemantic(corpus: DataFrame, bench: DataFrame,
                            idCol: String, vecCol: String,
                            benchVecCol: String,
                            threshold: Double): DataFrame = {
    require(threshold > -1 && threshold <= 1,
      s"decontaminateSemantic: threshold in (-1,1]: $threshold")
    val b = broadcast(bench.select(col(benchVecCol).as("__bv")))
    corpus.select(col(idCol), col(vecCol).as("__cv"))
      .crossJoin(b)
      .withColumn("__cos", cosine(col("__cv"), col("__bv")))
      // a zero-norm vector yields cosine NaN, and Spark orders NaN above
      // every number — without the isnan guard one zero embedding on the
      // BENCH side would flag the entire corpus (and the keep filter
      // would then silently drop every document)
      .filter(!isnan(col("__cos")) && col("__cos") >= threshold)
      .groupBy(col(idCol))
      .agg(round(max(col("__cos")), 6).as("max_cosine"),
        count(lit(1)).as("n_hits"))
  }

  /** Semantic-decontamination filter: corpus rows with no benchmark
    * embedding within cosine `threshold`.
    */
  def decontaminateSemanticKeep(corpus: DataFrame, bench: DataFrame,
                                idCol: String, vecCol: String,
                                benchVecCol: String,
                                threshold: Double): DataFrame =
    corpus.join(
      decontaminateSemantic(corpus, bench, idCol, vecCol, benchVecCol,
        threshold).select(idCol),
      Seq(idCol), "left_anti")

  /** Bloom-filter decontamination: flag corpus rows sharing (probably) any
    * word n-gram with the benchmark — the sketch variant of
    * [[decontaminate]] for when even a broadcast hash set of benchmark
    * grams is too big (a 1e9-gram eval suite is a ~14 GB set but a ~1.2 GB
    * bloom at 1% fpp; at 1e8 grams the bloom is ~120 MB).
    *
    * One-sided error, the safe direction for decontamination: a TRUE
    * overlap is always flagged (no false negatives — contaminated docs
    * cannot slip through); a clean doc is wrongly dropped with
    * probability ≤ ~grams·fpp.
    *
    * Scale shape: the filter is BUILT distributed (`stat.bloomFilter` runs
    * a treeAggregate over the bench grams) and PROBED scan-side — the
    * corpus never shuffles and never joins; each row does one in-codegen
    * pass over its gram array ([[graft.expr.VectorExprs.BloomAnyLong]])
    * with early exit on the first hit.
    */
  def contaminatedBloom(corpus: DataFrame, bench: DataFrame, textCol: String,
                        idCol: String, n: Int, fpp: Double = 0.01): DataFrame = {
    val benchGrams = shingleFrame(bench, textCol, idCol, Nil, n)
      .select(explode(col("sh")).as("__g")).distinct()
    // expected-item sizing: a count over the (small) bench side only
    val est = math.max(benchGrams.count(), 1L)
    val bf = benchGrams.stat.bloomFilter("__g", est, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    // probe with the SAME gram hash the bench side was built from
    // (HashedShingles, not the string-shingle xxhash64)
    corpus.withColumn("contaminated",
      graft.expr.VectorExprs.bloom_any(
        graft.expr.VectorExprs.hashed_shingles(gramTokens(col(textCol)), n),
        bos.toByteArray))
  }

  /** Keep only corpus rows the bloom probe clears — guaranteed to contain
    * no benchmark overlap (may drop ≤ fpp-rate clean rows).
    */
  def decontaminateBloomKeep(corpus: DataFrame, bench: DataFrame,
                             textCol: String, idCol: String, n: Int,
                             fpp: Double = 0.01): DataFrame =
    contaminatedBloom(corpus, bench, textCol, idCol, n, fpp)
      .filter(!col("contaminated")).drop("contaminated")

  // ---------------------------------------------------------- incremental

  /** Incremental exact dedup: rows of `batch` whose text is not already in
    * `corpus` — the "have we crawled this before?" membership check of a
    * continuously-growing training corpus.
    *
    * Scale shape: one anti-join keyed by the 16-byte md5 digest, never the
    * body — the corpus side reduces to its distinct digest set (in
    * production that set is the maintained artifact, so the corpus scan
    * drops out entirely and the join probes a digest table that only
    * grows by the accepted batch each cycle). The join is the exactness
    * guarantee; a bloom prefilter would only save shuffle bytes, and a
    * false positive there could never drop a genuinely-new document here.
    */
  def incrementalNew(batch: DataFrame, corpus: DataFrame, textCol: String,
                     idCol: String): DataFrame =
    batch.withColumn("__digest", md5(col(textCol)))
      .join(corpus.select(md5(col(textCol)).as("__digest")).distinct(),
        Seq("__digest"), "left_anti")
      .drop("__digest")

  /** Incremental MinHash near-dup: (batch, corpus) pairs sharing an LSH
    * band bucket, verified by exact word-shingle Jaccard ≥ `threshold`.
    * Returns (id_new, id_old, jaccard).
    *
    * The point at scale: corpus×corpus pairs are NEVER generated — a naive
    * re-dedup of the grown corpus pays the full quadratic candidate cost
    * every cycle, while this pays only |batch| × bucket-occupancy. The
    * skew cap censuses the corpus side (the unbounded one); batch-side
    * signatures and both verify joins reuse the id-partitioned shingle
    * exchanges, so tokenization runs once per side.
    */
  def incrementalNearDup(batch: DataFrame, corpus: DataFrame, textCol: String,
                         idCol: String, threshold: Double,
                         shingleWords: Int = 3, k: Int = 32, bands: Int = 8,
                         maxBucket: Int = 1000): DataFrame = {
    import graft.expr.VectorExprs.{band_hashes, minhash_sig}
    // EAGER localCheckpoints (r21): each shingle frame feeds its banding
    // pass and a verify join, and the corpus-side banded rows feed the
    // census and the candidate anti-join — the barriers make the
    // "tokenization runs once per side" claim hold in the executed plan
    val shNew = shingleFrame(batch, textCol, idCol, Nil, shingleWords)
      .repartition(col(idCol))
      .localCheckpoint()
    val shOld = shingleFrame(corpus, textCol, idCol, Nil, shingleWords)
      .repartition(col(idCol))
      .localCheckpoint()
    def banded(sh: DataFrame, out: String): DataFrame = sh.select(
        col(idCol), posexplode(band_hashes(minhash_sig(col("sh"), k), bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
      .select(col(idCol).as(out), col("band"), col("bh"))
    val bOld = banded(shOld, "id_old").repartition(col("band"), col("bh"))
      .localCheckpoint()
    val oversized = bOld.groupBy("band", "bh")
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > maxBucket)
      .select("band", "bh")
    val cands = banded(shNew, "id_new")
      .join(bOld.join(broadcast(oversized), Seq("band", "bh"), "left_anti"),
        Seq("band", "bh"))
      .select("id_new", "id_old").distinct()
    cands
      .join(shNew.select(col(idCol).as("id_new"), col("sh").as("sh_a")), "id_new")
      .join(shOld.select(col(idCol).as("id_old"), col("sh").as("sh_b")), "id_old")
      .withColumn("jaccard", jaccardCol(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_old"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Corpus-side LSH index for ingest-time near-dup: one row per
    * (band, bh, id_old, sh_old), oversized buckets censored with the same
    * skew cap as [[incrementalNearDup]]. Precompute once when the corpus
    * versionizes (like the persisted IVF index), persist as parquet
    * partitioned however the ingest joins it — the index is the artifact
    * a production ingest pipeline maintains instead of re-scanning the
    * corpus per batch.
    */
  def nearDupIndex(corpus: DataFrame, textCol: String, idCol: String,
                   shingleWords: Int = 3, k: Int = 32, bands: Int = 8,
                   maxBucket: Int = 1000): DataFrame = {
    import graft.expr.VectorExprs.{band_hashes, minhash_sig}
    val sh = shingleFrame(corpus, textCol, idCol, Nil, shingleWords)
      .repartition(col(idCol))
    val b = sh.select(col(idCol).as("id_old"), col("sh").as("sh_old"),
        posexplode(band_hashes(minhash_sig(col("sh"), k), bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
    val oversized = b.groupBy("band", "bh").agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > maxBucket).select("band", "bh")
    b.join(broadcast(oversized), Seq("band", "bh"), "left_anti")
      .select("band", "bh", "id_old", "sh_old")
  }

  /** Near-dup flagging of incoming documents against a precomputed
    * [[nearDupIndex]] — STREAM-SAFE: every document-side step is a
    * per-row expression or a stream-static equi-join, so the same code
    * runs on a batch frame and on a `readStream` of arriving documents
    * (ingest-time dedup, the shape CC-scale pipelines run). Candidates
    * from shared band buckets are verified with exact Jaccard inline (the
    * index rows carry the corpus shingles), so emitted pairs are
    * precision-1 by construction; the trailing dedup collapses multi-band
    * hits. On an unbounded stream that dedup's state is per-(new,old)
    * pair and grows forever UNLESS bounded: pass `eventTimeCol` (the
    * ingest-time column) and the state becomes watermark-evicted —
    * `withWatermark(eventTimeCol, watermarkDelay)` +
    * `dropDuplicatesWithinWatermark`, so a pair's state lives only
    * `watermarkDelay` past its arrival (multi-band hits of one document
    * land in one micro-batch, so even a short delay collapses them).
    *
    * Batch-mode output is EXACTLY [[incrementalNearDup]]'s (same
    * shingles, signatures, banding, cap, verification) — asserted by the
    * q_stream_neardup derived check.
    */
  def nearDupAgainstIndex(docs: DataFrame, index: DataFrame, textCol: String,
                          idCol: String, threshold: Double,
                          shingleWords: Int = 3, k: Int = 32,
                          bands: Int = 8,
                          eventTimeCol: Option[String] = None,
                          watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.expr.VectorExprs.{band_hashes, hashed_shingles, minhash_sig}
    val toks = gramTokens(col(textCol))
    val src = eventTimeCol match {
      case Some(t) => docs.withWatermark(t, watermarkDelay)
      case None    => docs
    }
    // the event-time column rides along so the watermark stays attached
    // through the join for the state-evicting dedup at the end
    val ride = eventTimeCol.toSeq.map(col)
    val sh = src.select(Seq(col(idCol).as("id_new")) ++ ride :+
        hashed_shingles(toks, shingleWords).as("sh"): _*)
      .filter(size(col("sh")) > 0)
    val scored = sh.select(Seq(col("id_new")) ++ ride :+ col("sh") :+
        posexplode(band_hashes(minhash_sig(col("sh"), k), bands)): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
      .join(index, Seq("band", "bh"))
      .withColumn("jaccard", jaccardCol(col("sh"), col("sh_old")))
      .filter(col("jaccard") >= threshold)
      .select(Seq(col("id_new"), col("id_old"),
        round(col("jaccard"), 6).as("jaccard")) ++ ride: _*)
    eventTimeCol match {
      case Some(t) =>
        scored.dropDuplicatesWithinWatermark("id_new", "id_old").drop(t)
      case None =>
        scored.dropDuplicates("id_new", "id_old")
    }
  }

  /** Connected components over an undirected duplicate-pair list — the
    * clustering step that follows the pair generators in a dedup pipeline
    * (pairs say "a dups b"; the pipeline needs "keep ONE representative
    * per duplicate cluster", which is the component representative).
    * Returns (id, rep) with rep = min id in the component.
    *
    * [[graft.ops.Graph.connectedComponents]] with `jumps = 0`: min-label
    * flooding over the closed adjacency, one edge join + min aggregate
    * per round. Dup clusters are near-cliques from LSH pairs, so their
    * diameter, and with it the round count, is small without pointer
    * jumps.
    */
  def connectedComponents(pairs: DataFrame, aCol: String,
                          bCol: String): DataFrame =
    Graph.connectedComponents(pairs, aCol, bCol, jumps = 0)
      .select(col("node").as("id"), col("component").as("rep"))

  /** Collapse duplicate clusters to one document each and return the
    * curated corpus: every document untouched by `pairs`, plus the best
    * member per cluster — "best" = highest `scoreCol`, ties to the lowest
    * id (deterministic). This is the keep/drop decision that follows the
    * pair generators + [[connectedComponents]] in a dedup pipeline; rank
    * by a quality score to keep the best-written copy rather than an
    * arbitrary one.
    *
    * Scale shape: components are O(documents-in-dup-pairs), not O(corpus);
    * the membership join is a key equi-join AQE can broadcast when dup
    * clusters are rare, and the per-cluster winner is a window over `rep`
    * (one shuffle of only the clustered rows — singletons skip the window
    * entirely).
    */
  def keepRepresentatives(docs: DataFrame, pairs: DataFrame, idCol: String,
                          scoreCol: Column, aCol: String = "id_a",
                          bCol: String = "id_b"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comps = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
    val member = docs.join(comps, Seq(idCol), "left")
    val clustered = member.filter(col("rep").isNotNull)
    val w = Window.partitionBy("rep")
      .orderBy(scoreCol.desc, col(idCol).asc)
    clustered.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk", "rep")
      .unionByName(member.filter(col("rep").isNull).drop("rep"))
  }

  // ---------------------------------------------------------------- simhash

  /** 64-bit SimHash over word tokens: per-bit weighted vote of
    * xxhash64(token) bits. Pure higher-order-function implementation —
    * for each bit position, sum ±1 votes across tokens and set the bit if
    * positive.
    */
  def simHash(text: Column): Column = {
    import graft.expr.VectorExprs.{hashed_shingles, simhash64}
    simhash64(hashed_shingles(gramTokens(text), 1))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on the 4 16-bit signature quarters (a
    * pair within hamming distance ≤3 of a 64-bit hash must agree on at
    * least one quarter — pigeonhole), verify exact hamming ≤ maxDist.
    */
  def simHashDedup(docs: DataFrame, textCol: String, idCol: String,
                   maxDist: Int = 3): DataFrame =
    hammingPairs(docs.select(col(idCol), simHash(col(textCol)).as("sig")),
      idCol, "sig", maxDist)

  /** Hamming-ball self-join over 64-bit signatures via 16-bit quarter
    * blocking: a pair within hamming `maxDist` ≤ 3 must agree on at least
    * one of the four 16-bit quarters (pigeonhole), so candidates are an
    * equi-join on (quarter, value) — never all-pairs — and the exact
    * distance filter runs only on bucket-mates. Shared by text SimHash
    * and image perceptual-hash dedup.
    */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
                   maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, s"quarter blocking is complete only for maxDist <= 3, got $maxDist")
    val norm = sigs.select(col(idCol), col(sigCol).as("sig"))
    val blocked = norm.select(
      col(idCol), col("sig"),
      explode(array((0 until 4).map { q =>
        struct(lit(q).as("q"),
          shiftright(col("sig"), q * 16).bitwiseAND(0xffffL).as("qv"))
      }: _*)).as("blk"))
      .select(col(idCol), col("sig"), col("blk.q"), col("blk.qv"))
    val a = blocked.select(col("q"), col("qv"),
      col(idCol).as("id_a"), col("sig").as("sig_a"))
    val b = blocked.select(col("q"), col("qv"),
      col(idCol).as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("q", "qv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  // ------------------------------------------------- embedding near-dup

  /** Cosine similarity between two float-vector columns, computed in
    * double, summation in element order (portable bit-for-bit to any
    * engine that folds in order).
    */
  def cosine(a: Column, b: Column): Column =
    graft.expr.VectorExprs.vec_cosine(a, b)

  /** Embedding-cosine near-duplicates: pairs with cosine ≥ threshold.
    * Blocked by `blockCols` (e.g. a cluster/label id or LSH bucket) to
    * bound the pair count; pass Nil for full all-pairs (test scale only).
    */
  /** Embedding near-dup with random-hyperplane LSH blocking — the 100 TB
    * form when no natural cluster/label column exists: vectors are bucketed
    * by sign pattern, only same-bucket pairs are compared. Recall < 1 by
    * construction (near-dups differing on a hyperplane side are missed);
    * lower `nPlanes` for higher recall at more pairs.
    */
  def embeddingNearDupLSH(emb: DataFrame, vecCol: String, idCol: String,
                          threshold: Double, nPlanes: Int, dim: Int): DataFrame = {
    val planes = Similarity.hyperplanes(nPlanes, dim)
    val blocked = emb.withColumn("__bucket",
      Similarity.lshBucket(col(vecCol), planes))
    embeddingNearDup(blocked, vecCol, idCol, threshold, Seq("__bucket"))
  }

  def embeddingNearDup(emb: DataFrame, vecCol: String, idCol: String,
                       threshold: Double, blockCols: Seq[String] = Nil): DataFrame = {
    val cols = Seq(col(idCol).as("id_a"), col(vecCol).as("v_a")) ++ blockCols.map(col)
    val a = emb.select(cols: _*)
    val bcols = Seq(col(idCol).as("id_b"), col(vecCol).as("v_b")) ++ blockCols.map(col)
    val b = emb.select(bcols: _*)
    val joined = if (blockCols.nonEmpty) a.join(b, blockCols) else a.crossJoin(b)
    joined
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }
}
