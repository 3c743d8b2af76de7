package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy (edit-distance) string matching: all-pairs within Levenshtein
  * distance `d`, and probe-against-index matching — the record-linkage /
  * typo-clustering companions to the token-level dedup in [[Dedup]].
  * (The reference engine has no string-similarity operator; this is part
  * of the training-data-pipeline extension surface, like [[Dedup]] /
  * [[TextAnalysis]].)
  *
  * Algorithm: deletion-neighborhood join (the SymSpell idea, Garbe 2012).
  * If lev(a, b) ≤ d then deleting the ≤ d positions that an optimal
  * alignment edits yields a common string in Del≤d(a) ∩ Del≤d(b), so
  * joining on deletion variants is COMPLETE for distance ≤ d; candidates
  * are then verified with the exact codegen `levenshtein`.
  *
  * Scale design (100 TB):
  *  - no all-pairs structure: each string of length L emits O(L^d)
  *    variant keys (O(L) at the default d = 1), hashed to 8-byte longs —
  *    the shuffle carries (key, id, length), never the strings
  *  - the variant join is a plain equi-join on the hashed key; a
  *    length-difference filter (|len(a) − len(b)| ≤ d, free: lengths ride
  *    the key rows) and `id_a < id_b` prune before the candidate distinct
  *  - verification joins the candidate ids back to the (id → string)
  *    side — two id-keyed joins, exact `levenshtein` only on candidates
  *  - skew: exact-duplicate strings (the dominant skew at corpus scale)
  *    are collapsed to one representative BEFORE the variant join and
  *    their id pairs reconstructed afterwards, so a million-fold repeated
  *    string costs the candidate join one row per variant; what remains in
  *    a bucket is the set of DISTINCT strings within one deletion of a
  *    common core — bounded by alphabet × length in realistic data
  */
object Fuzzy {

  /** The verify-step distance expression: plain Levenshtein (Spark's
    * codegen built-in) or full Damerau–Levenshtein (the engine's codegen
    * [[graft.expr.VectorExprs.DamerauLevenshtein]], matching DuckDB's
    * `damerau_levenshtein`). The deletion-neighborhood candidates are
    * complete for BOTH at the same radius: a transposed pair shares the
    * string with either of its two chars deleted, so one transposition
    * consumes at most one deletion per side — same budget as any other
    * single edit (FuzzySpec pins this against brute force).
    */
  private def distExpr(a: Column, b: Column, damerau: Boolean): Column =
    if (damerau) graft.expr.VectorExprs.damerau_levenshtein(a, b)
    else levenshtein(a, b)

  /** All strings reachable from `s` by at most `maxDist` character
    * deletions, `s` itself included, de-duplicated. Pure Column algebra
    * (array HOFs), so the generating scan stays columnar with projection
    * pruning. `maxDist` ≤ 2 keeps the neighborhood O(L²) — the classic
    * SymSpell operating range; larger radii belong to n-gram Jaccard.
    */
  def deletionVariants(s: Column, maxDist: Int): Column = {
    require(maxDist >= 0 && maxDist <= 2,
      s"deletionVariants supports 0 <= maxDist <= 2 (got $maxDist); " +
        "for coarser matching use Dedup.ngramJaccardPairs")
    // one deletion level: v -> [v minus char i | i <- 1..len(v)]
    def del1(v: Column): Column =
      when(length(v) >= 1,
        transform(sequence(lit(1), length(v)), i =>
          concat(v.substr(lit(1), i - 1), v.substr(i + 1, length(v) - i))))
        .otherwise(array())
    var level: Column = array(s)
    var acc: Column = array(s)
    for (_ <- 1 to maxDist) {
      level = array_distinct(flatten(transform(level, del1(_))))
      acc = concat(acc, level)
    }
    array_distinct(acc)
  }

  /** All distinct id pairs whose `strCol` values are within Levenshtein
    * distance `maxDist` (> 0 apart is not required: distance 0 means the
    * strings are equal — exact duplicates are reported too unless deduped
    * upstream). Output: (id_a, id_b, dist), id_a < id_b.
    *
    * `blockCols` restricts pairing to rows sharing the block key (the
    * blocked record-linkage form): the block columns ride the variant
    * join key, so at 100 TB a cheap blocking key (region, zip prefix,
    * source) bounds every bucket by block size — same role as the
    * `blockCols` of [[Dedup.ngramJaccardPairs]].
    */
  def editDistancePairs(docs: DataFrame, strCol: String, idCol: String,
                        maxDist: Int = 1,
                        blockCols: Seq[String] = Nil,
                        damerau: Boolean = false,
                        collapseExact: Boolean = true): DataFrame = {
    require(maxDist >= 1, s"editDistancePairs needs maxDist >= 1 (got $maxDist)")
    // null strings are within distance of nothing (levenshtein(null, x)
    // is null) — drop them up front so the exact-duplicate grouping below
    // cannot pair them at distance 0
    val base = docs
      .select(blockCols.map(col) :+ col(idCol).as("__id") :+
        col(strCol).as("__s"): _*)
      .filter(col("__s").isNotNull)
    if (!collapseExact) return directPairs(base, blockCols, maxDist, damerau)
    // collapse exact duplicates FIRST: the variant join runs on DISTINCT
    // (block, string)s, so a string duplicated a million times (the
    // dominant skew at corpus scale) costs the candidate join exactly one
    // row per variant instead of a quadratic bucket; its id pairs are
    // reconstructed at the end from the (rep → members) mapping, which is
    // only quadratic where the TRUE output is (distance-0 pairs).
    // `collapseExact = false` skips the census and reconstruction —
    // measured ~1.7× cheaper END-TO-END on a key already known unique (a
    // primary key): the census, its checkpoint, and the two expansion
    // joins all cost even when they find nothing. Identical output either
    // way; the default stays collapse-on because the direct path's
    // failure mode on duplicate-heavy data is quadratic candidates, not a
    // constant factor.
    //
    // The census is pinned with localCheckpoint: FOUR consumers read it
    // (variant keys, both verify sides, the member reconstruction) and an
    // unpinned plan would re-run the scan + aggregate per consumer — the
    // measured slope penalty was 5.6 vs 2.0 on 8× data before the pin.
    // Same executor-local durability trade-off as
    // [[Sampling.deterministicShuffle]]'s pin, and the frame is bounded
    // by the distinct-string count.
    // the repartition matters: AQE coalesces the small census aggregate
    // into very few partitions, and the checkpoint would freeze that —
    // serializing the downstream variant explode (the bulk of the work)
    // into those few tasks
    val uniq = base.groupBy((blockCols :+ "__s").map(col): _*)
      .agg(min(col("__id")).as("__rep"), count(lit(1)).as("__cnt"))
      .repartition(col("__rep"))
      .localCheckpoint()
    val keyed = uniq
      .select(blockCols.map(col) :+ col("__rep") :+
        length(col("__s")).as("__len") :+
        explode(deletionVariants(col("__s"), maxDist)).as("__v"): _*)
      .select(blockCols.map(col) :+ col("__rep") :+ col("__len") :+
        xxhash64(col("__v")).as("__k"): _*)
    val x = keyed.select(blockCols.map(col) :+ col("__k") :+
      col("__rep").as("rep_a") :+ col("__len").as("__la"): _*)
    val y = keyed.select(blockCols.map(col) :+ col("__k") :+
      col("__rep").as("rep_b") :+ col("__len").as("__lb"): _*)
    // merge hint: the checkpointed census reports its true (small) size
    // and the Generate estimate doesn't scale it by the explode factor,
    // so the planner would happily BROADCAST the exploded variant side —
    // a hash relation L× the census, rebuilt per task (measured 22 s vs
    // 6 s at 120k names × 19 variants). The variant self-join is big-big
    // by construction; pin it to a shuffle join
    val cands = x.hint("merge").join(y.hint("merge"), blockCols :+ "__k")
      .filter(col("rep_a") < col("rep_b"))
      .filter(abs(col("__la") - col("__lb")) <= maxDist)
      .select("rep_a", "rep_b").distinct()
    val reps = uniq.select(col("__rep"), col("__s"))
    // verify once per distinct-STRING pair (reps), not per id pair
    val verified = cands
      .join(reps.select(col("__rep").as("rep_a"), col("__s").as("__sa")), "rep_a")
      .join(reps.select(col("__rep").as("rep_b"), col("__s").as("__sb")), "rep_b")
      .withColumn("dist", distExpr(col("__sa"), col("__sb"), damerau))
      .filter(col("dist") <= maxDist)
      .select(col("rep_a"), col("rep_b"), col("dist"))
    // rep → member ids, built WITHOUT a full-corpus string join: only the
    // duplicated groups (usually a small census slice, AQE broadcasts it)
    // go back to `base` for their ids
    val membDup = base
      .join(uniq.filter(col("__cnt") > 1)
        .select((blockCols :+ "__s" :+ "__rep").map(col): _*),
        blockCols :+ "__s")
      .select(col("__rep"), col("__id"))
    // id expansion as two LEFT joins against the duplicate-only member map
    // (singleton reps miss and coalesce to themselves). ONE consumer of
    // `verified` — an earlier singleton/duplicate plan split read the
    // verify join once per branch and doubled the dominant stage
    // (measured 116 s vs 58 s of executor time on 2.1M pairs)
    // shuffle_hash on the member side: the hash relation is the (small)
    // duplicate map, and the output-sized probe side streams through
    // without the sort a merge join would impose on it twice
    val cross = verified
      .join(membDup.select(col("__rep").as("rep_a"), col("__id").as("__ia"))
        .hint("shuffle_hash"), Seq("rep_a"), "left")
      .join(membDup.select(col("__rep").as("rep_b"), col("__id").as("__ib"))
        .hint("shuffle_hash"), Seq("rep_b"), "left")
      .select(
        least(coalesce(col("__ia"), col("rep_a")),
          coalesce(col("__ib"), col("rep_b"))).as("id_a"),
        greatest(coalesce(col("__ia"), col("rep_a")),
          coalesce(col("__ib"), col("rep_b"))).as("id_b"),
        col("dist"))
    // distance-0 pairs = id combinations within one exact-duplicate group
    val zero = membDup.select(col("__rep"), col("__id").as("id_a"))
      .join(membDup.select(col("__rep"), col("__id").as("id_b")), Seq("__rep"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("dist"))
    cross.unionByName(zero)
  }

  /** The `collapseExact = false` plan: variant join straight on the id
    * rows. One fewer aggregate and two fewer joins than the collapsed
    * path, but an exact-duplicate group of size g costs the candidate
    * join g² rows PER VARIANT — only safe when the string column is
    * (near-)unique.
    */
  private def directPairs(base: DataFrame, blockCols: Seq[String],
                          maxDist: Int, damerau: Boolean): DataFrame = {
    val keyed = base
      .select(blockCols.map(col) :+ col("__id") :+
        length(col("__s")).as("__len") :+
        explode(deletionVariants(col("__s"), maxDist)).as("__v"): _*)
      .select(blockCols.map(col) :+ col("__id") :+ col("__len") :+
        xxhash64(col("__v")).as("__k"): _*)
    val x = keyed.select(blockCols.map(col) :+ col("__k") :+
      col("__id").as("id_a") :+ col("__len").as("__la"): _*)
    val y = keyed.select(blockCols.map(col) :+ col("__k") :+
      col("__id").as("id_b") :+ col("__len").as("__lb"): _*)
    val cands = x.join(y, blockCols :+ "__k")
      .filter(col("id_a") < col("id_b"))
      .filter(abs(col("__la") - col("__lb")) <= maxDist)
      .select("id_a", "id_b").distinct()
    cands
      .join(base.select(col("__id").as("id_a"), col("__s").as("__sa")), "id_a")
      .join(base.select(col("__id").as("id_b"), col("__s").as("__sb")), "id_b")
      .withColumn("dist", distExpr(col("__sa"), col("__sb"), damerau))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  private val MatchIndexKey = "graft.fuzzy_match_index"

  /** Persist the reference side of [[matchAgainst]] as a queryable index
    * (the SymSpell deployment shape: the deletion dictionary is built once
    * and probed forever): the distinct (variant-hash, ref id) keys land in
    * `path/keys` hash-partitioned by bucket, the (ref id, string) verify
    * table in `path/refs`, and `maxDist`/`buckets` in a keyword sidecar so
    * a probe cannot silently query with a different radius than the index
    * was built for.
    */
  def buildMatchIndex(reference: DataFrame, strCol: String, idCol: String,
                      path: String, maxDist: Int = 1,
                      nBuckets: Int = 64): Unit = {
    require(maxDist >= 1, s"buildMatchIndex needs maxDist >= 1 (got $maxDist)")
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val spark = reference.sparkSession
    val refBase = reference
      .select(col(idCol).as("ref_id"), col(strCol).as("__rs"))
      .filter(col("__rs").isNotNull)
    refBase
      .select(col("ref_id"),
        explode(deletionVariants(col("__rs"), maxDist)).as("__v"))
      .select(col("ref_id"), xxhash64(col("__v")).as("__k")).distinct()
      .withColumn("bucket", pmod(col("__k"), lit(nBuckets.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/keys")
    refBase.write.mode("overwrite").parquet(s"$path/refs")
    graft.api.MSWrite.putKeywords(spark, path,
      graft.api.MSWrite.readKeywords(spark, path) +
        (MatchIndexKey -> s"""{"maxDist":$maxDist,"buckets":$nBuckets}"""))
  }

  /** [[matchAgainst]] against a persisted [[buildMatchIndex]] store: the
    * probe side explodes its own deletion variants and equi-joins the
    * PRECOMPUTED key table — the reference-side explode+distinct is paid
    * once at build time, not per probe batch. The probe side may be
    * streaming (same watermark protocol as [[matchAgainst]]). The match
    * radius comes from the sidecar — the one the index is complete for.
    */
  def matchAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, probes: DataFrame,
                        pStrCol: String, pIdCol: String,
                        eventTimeCol: Option[String] = None,
                        watermarkDelay: String = "10 minutes",
                        damerau: Boolean = false): DataFrame = {
    val metaJson = graft.api.MSWrite.readKeywords(spark, path)
      .getOrElse(MatchIndexKey,
        throw new IllegalArgumentException(s"no fuzzy-match-index sidecar at $path"))
    val maxDist = """"maxDist"\s*:\s*(\d+)""".r.findFirstMatchIn(metaJson)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"fuzzy-match-index sidecar missing 'maxDist': $metaJson"))
    val refKeyed = spark.read.parquet(s"$path/keys").select("ref_id", "__k")
    val refBase = spark.read.parquet(s"$path/refs")
    probeMatch(probes, refKeyed, refBase, pStrCol, pIdCol, maxDist,
      eventTimeCol, watermarkDelay, damerau)
  }

  /** Shared probe-side core of [[matchAgainst]] / [[matchAgainstIndex]]:
    * explode probe deletion variants, equi-join the (ref_id, __k) key
    * table, dedup candidate pairs (watermark-evicted on a stream), verify
    * against the (ref_id, __rs) strings.
    */
  private def probeMatch(probes: DataFrame, refKeyed: DataFrame,
                         refBase: DataFrame, pStrCol: String, pIdCol: String,
                         maxDist: Int, eventTimeCol: Option[String],
                         watermarkDelay: String, damerau: Boolean): DataFrame = {
    val src = eventTimeCol match {
      case Some(t) => probes.withWatermark(t, watermarkDelay)
      case None    => probes
    }
    val ride = eventTimeCol.toSeq.map(col)
    // null strings match nothing (the verify distance is null) but every
    // null hashes to the SAME variant key — filter them before the
    // explode so dirty data cannot pile a null mega-bucket into the join
    val probeKeyed = src
      .filter(col(pStrCol).isNotNull)
      .select(Seq(col(pIdCol).as("probe_id"), col(pStrCol).as("__ps")) ++ ride :+
        explode(deletionVariants(col(pStrCol), maxDist)).as("__v"): _*)
      .select(Seq(col("probe_id"), col("__ps"), xxhash64(col("__v")).as("__k")) ++
        ride: _*)
    val cands = probeKeyed.join(refKeyed, "__k")
      .select(Seq(col("probe_id"), col("__ps"), col("ref_id")) ++ ride: _*)
    val distinctCands = eventTimeCol match {
      case Some(t) =>
        cands.dropDuplicatesWithinWatermark("probe_id", "ref_id").drop(t)
      case None => cands.dropDuplicates("probe_id", "ref_id")
    }
    distinctCands
      .join(refBase, "ref_id")
      .withColumn("dist", distExpr(col("__ps"), col("__rs"), damerau))
      .filter(col("dist") <= maxDist)
      .select(col("probe_id"), col("ref_id"), col("dist"))
  }

  /** Sorted-neighborhood record linkage (Hernández & Stolfo 1995): order
    * the corpus by `sortKeyCol` (default: the string itself), then emit
    * every pair within `window` consecutive positions whose strings are
    * within `maxDist` edits. Complements [[editDistancePairs]]: the
    * deletion join is exact-complete at tight radii; SNM trades
    * completeness for a caller-chosen sort key that brings
    * domain-knowledge matches (same prefix, same phonetic key) together
    * regardless of edit distance budget.
    *
    * Scale shape: ONE range-partitioned global sort, positions from
    * [[graft.api.MSTable.zipWithRowId]] (a per-partition row-count census
    * and one narrow pass — a whole-frame window would serialize into one
    * task), then the window pairing is an equi-join on `pos + offset`
    * (longs), verify on the candidates only. `assumeDeterministic` has
    * [[Sampling.deterministicShuffle]]'s exact semantics/trade-off (the
    * two-job census needs a pinned or deterministic input).
    */
  def sortedNeighborhoodPairs(docs: DataFrame, strCol: String, idCol: String,
                              window: Int, maxDist: Int,
                              sortKeyCol: Option[String] = None,
                              damerau: Boolean = false,
                              assumeDeterministic: Boolean = false): DataFrame = {
    require(maxDist >= 0, s"sortedNeighborhoodPairs needs maxDist >= 0 (got $maxDist)")
    snmCandidates(docs, strCol, idCol, window, sortKeyCol, assumeDeterministic)
      .withColumn("dist", distExpr(col("__sa"), col("__sb"), damerau))
      .filter(col("dist") <= maxDist)
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("dist"))
  }

  /** [[sortedNeighborhoodPairs]] with a Jaro–Winkler similarity verify
    * (the classic SNM companion measure for person/entity names — weights
    * agreement in the prefix, tolerant of suffix noise): pairs within
    * `window` consecutive sort positions with
    * `jaro_winkler(a, b) >= minSim`. The similarity is the engine's
    * codegen [[graft.expr.VectorExprs.JaroWinkler]], which matches
    * DuckDB's `jaro_winkler_similarity` definition exactly.
    */
  def sortedNeighborhoodJaroWinkler(docs: DataFrame, strCol: String,
                                    idCol: String, window: Int,
                                    minSim: Double,
                                    sortKeyCol: Option[String] = None,
                                    assumeDeterministic: Boolean = false): DataFrame = {
    require(minSim > 0 && minSim <= 1,
      s"sortedNeighborhoodJaroWinkler needs 0 < minSim <= 1 (got $minSim)")
    snmCandidates(docs, strCol, idCol, window, sortKeyCol, assumeDeterministic)
      .withColumn("__jw",
        graft.expr.VectorExprs.jaro_winkler(col("__sa"), col("__sb")))
      .filter(col("__jw") >= minSim)
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"),
        round(col("__jw"), 6).as("jw"))
  }

  /** Shared SNM candidate generation: global sort by the key, census
    * positions, one offset equi-join — (__ia, __sa, __ib, __sb) pairs
    * within `window` consecutive positions, each unordered pair once.
    */
  private def snmCandidates(docs: DataFrame, strCol: String, idCol: String,
                            window: Int, sortKeyCol: Option[String],
                            assumeDeterministic: Boolean): DataFrame = {
    require(window >= 2, s"sorted-neighborhood needs window >= 2 (got $window)")
    val key = sortKeyCol.getOrElse(strCol)
    val base = docs
      .select(col(key).as("__key"), col(idCol).as("__id"), col(strCol).as("__s"))
      .filter(col("__s").isNotNull)
    val ranked = graft.api.MSTable.zipWithRowId(
        base.orderBy(col("__key"), col("__id")), pin = !assumeDeterministic)
      .withColumnRenamed(graft.api.MSTable.RowId, "__pos")
    val left = ranked
      .select(col("__id").as("__ia"), col("__s").as("__sa"),
        explode(sequence(lit(1), lit(window - 1))).as("__off"),
        col("__pos"))
      .select(col("__ia"), col("__sa"), (col("__pos") + col("__off")).as("__pb"))
    val right = ranked.select(col("__pos").as("__pb"),
      col("__id").as("__ib"), col("__s").as("__sb"))
    left.join(right, "__pb")
  }

  /** Match each probe string against a reference set within Levenshtein
    * distance `maxDist`: (probe id, matched reference id, dist). The probe
    * side may be a STREAMING DataFrame — the plan is probe-side explode ⋈
    * static keyed reference (a stream-static equi-join, stateless), then
    * an id-keyed verify join back to the reference strings. The one
    * stateful step is the candidate-pair dedup (a probe and a reference
    * can share several variant keys): on a stream pass `eventTimeCol` so
    * it runs as `dropDuplicatesWithinWatermark` and its state is evicted
    * as the watermark advances, same protocol as
    * [[Dedup.nearDupAgainstIndex]].
    */
  def matchAgainst(probes: DataFrame, reference: DataFrame,
                   pStrCol: String, pIdCol: String,
                   rStrCol: String, rIdCol: String,
                   maxDist: Int = 1,
                   eventTimeCol: Option[String] = None,
                   watermarkDelay: String = "10 minutes",
                   damerau: Boolean = false): DataFrame = {
    require(maxDist >= 1, s"matchAgainst needs maxDist >= 1 (got $maxDist)")
    val refBase = reference
      .select(col(rIdCol).as("ref_id"), col(rStrCol).as("__rs"))
      .filter(col("__rs").isNotNull)
    val refKeyed = refBase
      .select(col("ref_id"), explode(deletionVariants(col("__rs"), maxDist)).as("__v"))
      .select(col("ref_id"), xxhash64(col("__v")).as("__k")).distinct()
    probeMatch(probes, refKeyed, refBase, pStrCol, pIdCol, maxDist,
      eventTimeCol, watermarkDelay, damerau)
  }
}
