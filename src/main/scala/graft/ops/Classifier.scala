package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Learned document-quality classification: logistic regression on hashed
  * bag-of-words features — the Spark-first analog of the fastText
  * wiki-vs-CommonCrawl quality filters used to curate pretraining data
  * (Joulin et al. 2016 "Bag of Tricks"; the GPT-3/LLaMA quality-filter
  * recipe). Linear model, hashed unigram features (md5 bucket, the
  * engine-portable draw every sampler here uses), L1-normalized term
  * frequencies, trained by full-batch gradient descent.
  *
  * Scale design (100 TB):
  *  - the corpus is TOKENIZED ONCE into sparse per-doc bucket counts and
  *    persisted; each GD iteration is one `treeAggregate` over that
  *    (much smaller) featurized form — the standard distributed-LR
  *    shape: O(buckets) driver state, broadcast weights down, partial
  *    gradients up a tree, never a per-row shuffle
  *  - `buckets` bounds everything: the weight vector, the per-task
  *    gradient accumulator (B+1 doubles ≈ 256 KB at the 2^15 default),
  *    and the broadcast — independent of corpus size
  *  - scoring is scan-side: the weight vector rides the plan as a dense
  *    array literal (O(1) per-token lookup) and the score is one narrow
  *    Column pass, no shuffle, no RDD round-trip (same shape as
  *    [[TextAnalysis.dsirWeights]] scoring)
  */
object Classifier {

  /** Two dense slots appended after the hashed buckets: inverse length
    * and saturating length — document-length signals that L1-normalized
    * term frequencies cannot express (they sum to 1 at any length), yet
    * every practical quality heuristic depends on. Slot layout:
    * `[0, buckets)` hashed tf, `buckets` = 1/(1+n), `buckets+1` =
    * min(n,512)/512.
    */
  private[ops] val ExtraFeats = 2

  /** Trained model: `weights(b)` per feature slot (hashed buckets +
    * [[ExtraFeats]] length slots) + `bias`; a plain case class so it
    * serializes into closures/broadcasts cheaply and persists as a tiny
    * DataFrame ([[modelDf]]).
    */
  final case class LinearTextModel(weights: Array[Double], bias: Double) {
    def buckets: Int = weights.length - ExtraFeats
  }

  /** md5-bucket of one token — identical arithmetic to the Column-side
    * `conv(substring(md5(tok),1,8),16,10) % B` used across the engine,
    * so features are engine-portable and test-reproducible.
    */
  private[ops] def bucketOf(tok: String, buckets: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 4) { h = (h << 8) | (md(i) & 0xffL); i += 1 }
    (h % buckets).toInt
  }

  /** Sparse L1-normalized hashed term frequencies + the two dense length
    * slots, from an already-tokenized word list. A token-less document
    * still emits the length slots (1/(1+0) = 1, 0), so "empty" is itself
    * a learnable signal. Tokenization happens Spark-side
    * ([[TextAnalysis.tokens]]) so the trainer and the Column scorer see
    * identical words under any JVM default locale — there is only one
    * lowercasing mechanism, Spark's `lower()`.
    */
  private[ops] def featurizeWords(words: Seq[String],
                                  buckets: Int): Array[(Int, Double)] = {
    val ws = if (words == null) Seq.empty[String] else words
    val n = ws.length.toDouble
    val m = scala.collection.mutable.HashMap.empty[Int, Double]
    ws.foreach { w =>
      val b = bucketOf(w, buckets)
      m.update(b, m.getOrElse(b, 0.0) + 1.0)
    }
    val tf = m.iterator.map { case (b, c) => (b, c / n) }.toArray.sortBy(_._1)
    tf ++ Array((buckets, 1.0 / (1.0 + n)), (buckets + 1, math.min(n, 512.0) / 512.0))
  }

  /** Train by full-batch gradient descent with L2 regularization.
    * `labelCol` must be 0/1 (castable to double). Deterministic for a
    * fixed input partitioning (treeAggregate merge order is fixed), and
    * the spec pins separable-data behavior; floors — not exact weights —
    * are the cross-run contract, as for every iterative fit here.
    */
  def trainHashedLR(docs: DataFrame, textCol: String, labelCol: String,
                    buckets: Int = 1 << 15, iters: Int = 30,
                    lr: Double = 1.0, l2: Double = 1e-6): LinearTextModel = {
    require(buckets > 0 && iters > 0, s"buckets/iters positive: $buckets/$iters")
    val sc = docs.sparkSession.sparkContext
    val b = buckets
    // featurize once; iterations re-scan this, not the text. Words are
    // split Spark-side with the exact expression the Column scorer uses,
    // so train/score tokenization agree by construction.
    val feats = docs.select(
        TextAnalysis.nonEmptyTokens(col(textCol)),
        col(labelCol).cast("double"))
      .rdd.map { r =>
        val ws: Seq[String] = if (r.isNullAt(0)) Seq.empty else r.getSeq[String](0)
        (featurizeWords(ws, b), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = feats.count().toDouble
    require(n > 0, "trainHashedLR: empty training set")
    val d = b + ExtraFeats
    var w = new Array[Double](d)
    val gsq = new Array[Double](d + 1)
    var bias = 0.0
    var it = 0
    while (it < iters) {
      val wB = sc.broadcast((w, bias))
      // gradient of mean log-loss: one dense (D+1)-slot accumulator per
      // task, summed up a tree — no shuffle of per-row data
      val grad = feats.treeAggregate(new Array[Double](d + 1))(
        seqOp = { (acc, row) =>
          val (wv, bv) = wB.value
          val (xs, y) = row
          var dot = bv
          xs.foreach { case (i, v) => dot += wv(i) * v }
          val p = 1.0 / (1.0 + math.exp(-dot))
          val res = p - y
          xs.foreach { case (i, v) => acc(i) += res * v }
          acc(d) += res
          acc
        },
        combOp = { (a, c) => var i = 0; while (i < a.length) { a(i) += c(i); i += 1 }; a })
      wB.destroy()
      // AdaGrad per-coordinate steps (Duchi et al. 2011): the hashed tf
      // features are ~100× smaller than the dense length slots, so a
      // single global step either crawls on the tf weights or diverges on
      // the dense ones; the accumulated-squared-gradient scaling
      // equalizes them. Driver-side O(D) state, deterministic.
      val wNew = new Array[Double](d)
      var i = 0
      while (i < d) {
        val g = grad(i) / n + l2 * w(i)
        gsq(i) += g * g
        wNew(i) = w(i) - lr * g / (math.sqrt(gsq(i)) + 1e-8)
        i += 1
      }
      w = wNew
      val gb = grad(d) / n
      gsq(d) += gb * gb
      bias -= lr * gb / (math.sqrt(gsq(d)) + 1e-8)
      it += 1
    }
    feats.unpersist()
    LinearTextModel(w, bias)
  }

  /** Score every document: adds `quality_score` = σ(w·x + bias) in
    * (0, 1). A scan-side Column projection ([[scoreColumn]]): the
    * (bounded) weight vector rides the plan as a dense array literal —
    * no shuffle, no RDD round-trip, streaming-safe; token-less docs
    * score the length-slot prior.
    */
  def scoreHashedLR(docs: DataFrame, textCol: String,
                    model: LinearTextModel): DataFrame = {
    require(!docs.columns.contains("quality_score"),
      "scoreHashedLR reserves output column quality_score")
    docs.withColumn("quality_score", scoreColumn(col(textCol), model))
  }

  /** Pure-Column scorer: σ(w·x + bias) as a Column expression — usable in
    * Structured Streaming transforms (no RDD access) and inside
    * whole-stage codegen; [[scoreHashedLR]] is this plus the column name.
    * The (bounded) weight vector rides in the plan as a dense array
    * literal with O(1) per-token indexing; each lookup recomputes the
    * identical md5 bucket as the trainer's [[bucketOf]]. Scores match a driver-side
    * [[featurizeWords]] reference dot product to within float-association
    * tolerance (per-token vs per-bucket summation orders differ by
    * ~1 ulp; asserted < 1e-12 in ClassifierSpec).
    */
  def scoreColumn(text: Column, model: LinearTextModel): Column = {
    import org.apache.spark.sql.functions.{typedlit, aggregate => arrAgg}
    // DENSE array literal, not a map: Catalyst's GetMapValue (element_at
    // on a map) is a LINEAR key scan, which at buckets = 2^15 turns each
    // token lookup into a 32k-entry sweep — O(tokens · buckets) per doc.
    // GetArrayItem is O(1), and the zeros cost only plan bytes.
    val wArr = typedlit(model.weights.take(model.buckets).toSeq)
    val toks = coalesce(
      TextAnalysis.nonEmptyTokens(text), typedlit(Seq.empty[String]))
    val n = size(toks).cast("double")
    def bucket(t: Column): Column =
      conv(substring(md5(t), 1, 8), 16, 10).cast("long") % model.buckets
    val tfDot = arrAgg(toks, lit(0.0),
      (acc, t) => acc + element_at(wArr, (bucket(t) + 1).cast("int")))
    val dot = when(n > 0, tfDot / n).otherwise(lit(0.0)) +
      lit(model.weights(model.buckets)) * (lit(1.0) / (lit(1.0) + n)) +
      lit(model.weights(model.buckets + 1)) * (least(n, lit(512.0)) / 512.0) +
      lit(model.bias)
    lit(1.0) / (lit(1.0) + exp(-dot))
  }

  /** Persistable model frame: (bucket, weight) rows + a (-1, bias) row. */
  def modelDf(spark: org.apache.spark.sql.SparkSession,
              model: LinearTextModel): DataFrame = {
    import spark.implicits._
    (model.weights.zipWithIndex.map { case (v, i) => (i.toLong, v) } :+
      (-1L, model.bias)).toSeq.toDF("bucket", "weight")
  }

  /** Rehydrate [[modelDf]] output. */
  def modelFromDf(df: DataFrame): LinearTextModel = {
    val rows = df.select("bucket", "weight").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val bias = rows.find(_._1 == -1L).map(_._2).getOrElse(0.0)
    val wRows = rows.filter(_._1 >= 0)
    val w = new Array[Double](wRows.map(_._1).max.toInt + 1)
    wRows.foreach { case (i, v) => w(i.toInt) = v }
    LinearTextModel(w, bias)
  }

  /** Convenience verdict column threshold. */
  def keepAbove(scored: DataFrame, threshold: Double): DataFrame =
    scored.filter(col("quality_score") >= threshold)

  /** Classification quality report — the evaluation leg of the filter
    * family (a quality/langid/PII classifier gates millions of
    * documents; this measures the gate): one row per class with
    * support (true count), predicted (predicted count), tp, precision,
    * recall, F1, plus one `__all__` row whose precision/recall/F1 slots
    * all carry micro accuracy (for single-label classification micro
    * P = micro R = accuracy). Null labels/predictions report as the
    * class `__null__` rather than vanishing from the counts. Doubles
    * round at 9.
    *
    * Scale shape: ONE (label, pred) hash aggregate over the corpus —
    * the confusion matrix, classes² tiny rows — localCheckpointed once
    * and fanned into the per-class joins and the accuracy scalar; no
    * window, no corpus-sized join.
    */
  def classificationReport(scored: DataFrame, labelCol: String,
                           predCol: String): DataFrame = {
    val cm = scored.select(
        coalesce(col(labelCol).cast("string"), lit("__null__")).as("label"),
        coalesce(col(predCol).cast("string"), lit("__null__")).as("pred"))
      .groupBy("label", "pred").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    // empty-frame refusal, matching the family convention (cohenKappa,
    // rocAuc, sliceAccuracy) — a NULL-support __all__ row is not a report
    require(cm.head(1).nonEmpty, "classificationReport: empty frame")
    val byLabel = cm.groupBy(col("label").as("cls"))
      .agg(sum("n").as("support"))
    val byPred = cm.groupBy(col("pred").as("cls"))
      .agg(sum("n").as("predicted"))
    val tp = cm.filter(col("label") === col("pred"))
      .select(col("label").as("cls"), col("n").as("tp"))
    val prec = when(col("predicted") > 0,
      col("tp").cast("double") / col("predicted")).otherwise(lit(0.0))
    val rec = when(col("support") > 0,
      col("tp").cast("double") / col("support")).otherwise(lit(0.0))
    val per = byLabel.join(byPred, Seq("cls"), "full_outer")
      .join(tp, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("predicted"), lit(0L)).as("predicted"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("cls"), col("support"), col("predicted"), col("tp"),
        round(prec, 9).as("precision"), round(rec, 9).as("recall"),
        round(when(prec + rec > 0, lit(2.0) * prec * rec / (prec + rec))
          .otherwise(lit(0.0)), 9).as("f1"))
    val acc = when(col("support") > 0,
      col("tp").cast("double") / col("support")).otherwise(lit(0.0))
    val all = cm.agg(sum("n").as("support"),
        sum(when(col("label") === col("pred"), col("n")).otherwise(0L))
          .as("tp"))
      .select(lit("__all__").as("cls"), col("support"),
        col("support").as("predicted"), col("tp"),
        round(acc, 9).as("precision"), round(acc, 9).as("recall"),
        round(acc, 9).as("f1"))
    per.unionByName(all)
  }

  /** Cohen's kappa (Cohen 1960) between two raters' labels on the same
    * items — chance-corrected agreement for label-quality audits
    * (human-vs-human or model-vs-human annotation of training data):
    * κ = (p_o − p_e)/(1 − p_e) with p_o the observed agreement rate
    * and p_e = Σ_k p_a(k)·p_b(k) the marginal-product chance rate.
    * Nulls label as `__null__` (a missing rating is a rating
    * category, not a dropped item). When both raters are constant and
    * identical (p_e = 1), κ is conventionally 0/0 — reported here as
    * 1.0 for perfect observed agreement and 0.0 otherwise, the
    * scikit-learn convention. One row: (n_items, po, pe, kappa),
    * doubles rounded at 9.
    *
    * Scale shape: ONE (a, b) hash aggregate (the contingency table,
    * labels² tiny rows), then marginal sums and one scalar join — no
    * corpus-sized shuffle beyond the table build.
    */
  def cohenKappa(rated: DataFrame, aCol: String, bCol: String): DataFrame = {
    val ct = rated.select(
        coalesce(col(aCol).cast("string"), lit("__null__")).as("a"),
        coalesce(col(bCol).cast("string"), lit("__null__")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    require(ct.head(1).nonEmpty, "cohenKappa: empty frame")
    val tot = ct.agg(sum("n").as("n_items"),
      sum(when(col("a") === col("b"), col("n")).otherwise(0L)).as("agree"))
    // marginal products sum as DOUBLES (exact while < 2^53, and a
    // long·long product overflows first at corpus scale)
    val margA = ct.groupBy(col("a").as("k")).agg(sum("n").as("na"))
    val margB = ct.groupBy(col("b").as("k")).agg(sum("n").as("nb"))
    val chance = margA.join(margB, "k")
      .agg(sum(col("na").cast("double") * col("nb").cast("double"))
        .as("prod"))
    tot.crossJoin(chance).select(
      col("n_items"),
      col("agree").cast("double") / col("n_items"),
      coalesce(col("prod"), lit(0.0))
        / (col("n_items").cast("double") * col("n_items").cast("double")))
      .toDF("n_items", "po_raw", "pe_raw")
      .select(col("n_items"),
        round(col("po_raw"), 9).as("po"),
        round(col("pe_raw"), 9).as("pe"),
        round(when(col("pe_raw") >= 1.0,
            when(col("po_raw") >= 1.0, 1.0).otherwise(0.0))
          .otherwise((col("po_raw") - col("pe_raw"))
            / (lit(1.0) - col("pe_raw"))), 9).as("kappa"))
  }

  /** Gwet's AC1 (Gwet 2008, "Computing inter-rater reliability and its
    * variance in the presence of high agreement") between two raters —
    * the prevalence-robust companion to [[cohenKappa]]: κ's
    * marginal-product chance term explodes when one category dominates
    * (the "kappa paradox": 95% raw agreement on a 95/5 label mix can
    * score κ ≈ 0, so skewed-label annotation audits — exactly the
    * safety/quality filters a training pipeline runs — read as garbage
    * agreement). AC1 replaces it with
    * pe = Σ_k π_k(1 − π_k) / (K − 1), π_k = (p_a(k) + p_b(k))/2 the
    * MEAN marginal, which is ≤ 1/K — bounded away from 1, so the
    * correction never blows up. AC1 = (po − pe)/(1 − pe). Nulls label
    * as `__null__` (the [[cohenKappa]] convention); K = 1 (both raters
    * constant and identical — po is necessarily 1) reports 1.0. One
    * row: (n_items, po, pe, ac1), doubles rounded at 9.
    *
    * Scale shape: the [[cohenKappa]] plan — ONE (a, b) hash aggregate
    * (labels² tiny rows), marginal sums, one scalar join.
    */
  def gwetAC1(rated: DataFrame, aCol: String, bCol: String): DataFrame = {
    val ct = rated.select(
        coalesce(col(aCol).cast("string"), lit("__null__")).as("a"),
        coalesce(col(bCol).cast("string"), lit("__null__")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    require(ct.head(1).nonEmpty, "gwetAC1: empty frame")
    val tot = ct.agg(sum("n").as("n_items"),
      sum(when(col("a") === col("b"), col("n")).otherwise(0L)).as("agree"))
    val margA = ct.groupBy(col("a").as("k")).agg(sum("n").as("na"))
    val margB = ct.groupBy(col("b").as("k")).agg(sum("n").as("nb"))
    // categories used by only ONE rater still carry chance mass — the
    // union marginal, not cohenKappa's inner product
    val pis = margA.join(margB, Seq("k"), "full_outer")
      .select((coalesce(col("na"), lit(0L)).cast("double") +
        coalesce(col("nb"), lit(0L)).cast("double")).as("m"))
    val chance = pis.agg(count(lit(1)).as("kk"),
      sum(col("m") * col("m")).as("m2"), sum(col("m")).as("m1"))
    tot.crossJoin(chance).select(
        col("n_items"), col("agree"), col("kk"),
        // Σ π(1−π) = Σ π − Σ π² with π_k = m_k / (2n) exactly
        (col("m1") / (col("n_items") * 2.0) -
          col("m2") / (col("n_items") * 2.0 * col("n_items") * 2.0))
          .as("sumpi"))
      .select(col("n_items"),
        (col("agree").cast("double") / col("n_items")).as("po_raw"),
        when(col("kk") <= 1, lit(0.0))
          .otherwise(col("sumpi") / (col("kk") - lit(1.0))).as("pe_raw"),
        col("kk"))
      .select(col("n_items"),
        round(col("po_raw"), 9).as("po"),
        round(col("pe_raw"), 9).as("pe"),
        round(when(col("kk") <= 1, 1.0)
          .otherwise((col("po_raw") - col("pe_raw"))
            / (lit(1.0) - col("pe_raw"))), 9).as("ac1"))
  }

  /** Fleiss' kappa (Fleiss 1971) for N raters × M items — the
    * multi-rater generalization used when an annotation batch is
    * fanned to a rater pool: each item must receive the SAME number
    * of ratings m ≥ 2 (the statistic is undefined otherwise — an
    * unbalanced frame refuses loudly rather than silently reweighting).
    * P̄ = mean over items of (Σ_k n_ik² − m)/(m(m−1)), chance
    * P̄e = Σ_k p_k², κ = (P̄ − P̄e)/(1 − P̄e) with the same degenerate
    * convention as [[cohenKappa]]. One row:
    * (n_items, n_raters, p_bar, p_e, kappa), doubles rounded at 9.
    *
    * Scale shape: one (item, label) count aggregate, one per-item
    * aggregate over it, one per-label aggregate — three hash aggs,
    * all output-bounded, no window.
    */
  def fleissKappa(ratings: DataFrame, itemCol: String,
                  labelCol: String): DataFrame = {
    val cnt = ratings.select(
        col(itemCol).as("item"),
        coalesce(col(labelCol).cast("string"), lit("__null__")).as("lab"))
      .groupBy("item", "lab").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val perItem = cnt.groupBy("item")
      .agg(sum(col("n") * col("n")).as("sq"), sum("n").as("m"))
    val shape = perItem.agg(count(lit(1)).as("n_items"),
      min("m").as("m_lo"), max("m").as("m_hi"))
    val Array(nItems, mLo, mHi) =
      shape.head().toSeq.map(_.asInstanceOf[Long]).toArray
    require(nItems > 0, "fleissKappa: no ratings")
    require(mLo == mHi && mLo >= 2,
      s"fleissKappa: every item needs the same >=2 rating count " +
        s"(saw $mLo..$mHi) — the statistic is undefined on unbalanced " +
        "panels; use krippendorffAlpha for missing-rating data, or " +
        "filter to fully-rated items")
    val m = mLo.toDouble
    // both ratios reduce to one division of exact-integer sums, so the
    // value is bit-identical regardless of aggregation order (the SQL
    // oracle divides the same integers)
    val pBar = perItem.agg(
      ((sum("sq") - sum("m")).cast("double")
        / lit(nItems * m * (m - 1.0))).as("p_bar"))
    val pe = cnt.groupBy("lab").agg(sum("n").as("nk"))
      .agg((sum(col("nk").cast("double") * col("nk").cast("double"))
        / (lit(nItems * m) * lit(nItems * m))).as("p_e"))
    pBar.crossJoin(pe).select(
      lit(nItems).as("n_items"), lit(mLo).as("n_raters"),
      round(col("p_bar"), 9).as("p_bar"),
      round(col("p_e"), 9).as("p_e"),
      round(when(col("p_e") >= 1.0,
          when(col("p_bar") >= 1.0, 1.0).otherwise(0.0))
        .otherwise((col("p_bar") - col("p_e"))
          / (lit(1.0) - col("p_e"))), 9).as("kappa"))
  }

  /** Krippendorff's alpha (Krippendorff 1970/2004), nominal metric —
    * the agreement statistic for REAL annotation tables: unlike
    * [[fleissKappa]] it tolerates missing ratings (items rated by
    * different subsets of the pool). Items with fewer than 2 ratings
    * cannot express agreement and are excluded per the definition;
    * an all-singleton frame refuses. α = 1 − D_o/D_e with
    * D_o = Σ_i (m_i² − Σ_k n_ik²)/(m_i − 1) / n (pairwise
    * within-item disagreement) and D_e = (n² − Σ_k n_k²)/(n·(n−1))
    * over the usable ratings; nulls label as `__null__`. Degenerate
    * D_e = 0 (one label category total) reports α = 1.0 — no
    * expected disagreement and no observed disagreement. One row:
    * (n_items, n_ratings, d_o, d_e, alpha), doubles rounded at 9.
    *
    * Scale shape: the [[fleissKappa]] aggregates plus one usable-item
    * semi filter — three bounded hash aggs, no window.
    */
  def krippendorffAlpha(ratings: DataFrame, itemCol: String,
                        labelCol: String): DataFrame = {
    val cnt = ratings.select(
        col(itemCol).as("item"),
        coalesce(col(labelCol).cast("string"), lit("__null__")).as("lab"))
      .groupBy("item", "lab").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val perItem = cnt.groupBy("item")
      .agg(sum(col("n") * col("n")).as("sq"), sum("n").as("m"))
      .filter(col("m") >= 2)
    val doAgg = perItem.agg(count(lit(1)).as("n_items"),
      sum("m").as("nr"),
      sum((col("m").cast("double") * col("m") - col("sq"))
        / (col("m") - lit(1)).cast("double")).as("do_num"))
    val row = doAgg.head()
    require(!row.isNullAt(0) && row.getLong(0) > 0,
      "krippendorffAlpha: no item has >= 2 ratings — agreement is " +
        "undefined on an all-singleton panel")
    val (nItems, nr) = (row.getLong(0), row.getLong(1))
    val labelTot = cnt.join(perItem.select("item"), "item")
      .groupBy("lab").agg(sum("n").as("nk"))
      .agg(sum(col("nk").cast("double") * col("nk").cast("double"))
        .as("sq_k"))
    labelTot.select(
        lit(nItems).as("n_items"), lit(nr).as("n_ratings"),
        lit(row.getDouble(2) / nr).as("d_o"),
        ((lit(nr.toDouble) * nr - col("sq_k"))
          / (lit(nr.toDouble) * (nr - 1.0))).as("d_e"))
      .select(col("n_items"), col("n_ratings"),
        round(col("d_o"), 9).as("d_o"), round(col("d_e"), 9).as("d_e"),
        round(when(col("d_e") <= 0.0, 1.0)
          .otherwise(lit(1.0) - col("d_o") / col("d_e")), 9).as("alpha"))
  }

  /** Krippendorff's alpha, INTERVAL metric (Krippendorff 2004 §11) —
    * the [[krippendorffAlpha]] for numeric/ordinal rating scales
    * (Likert quality scores, 1–5 helpfulness grades), where
    * disagreement is squared distance, not mere inequality: rating an
    * item 4 vs 5 disagrees less than 1 vs 5. Per item,
    * Σ_{ordered pairs u≠v} (x_u − x_v)² = 2·(m·Σx² − (Σx)²) folds the
    * pairwise sum into per-item power sums, so
    * D_o = Σ_i 2·(m_i·Σx²_i − (Σx_i)²)/(m_i − 1) / n and
    * D_e = 2·(n·ΣX² − (ΣX)²)/(n·(n − 1)) over the pooled usable
    * ratings — the identical aggregate SHAPE as the nominal form
    * (items with < 2 ratings excluded; all-singleton refuses; D_e = 0
    * — all ratings identical — reports 1.0). Null or NaN ratings
    * refuse (a missing numeric rating has no distance; drop the row
    * to mark it missing — the nominal form is the one that treats
    * null as a category). One row: (n_items, n_ratings, d_o, d_e,
    * alpha), doubles rounded at 9.
    *
    * Scale shape: ONE (item) hash aggregate of power sums + one scalar
    * reduce — no label-cardinality term at all, so it beats the
    * nominal form's contingency build on high-cardinality scales.
    */
  def krippendorffAlphaInterval(ratings: DataFrame, itemCol: String,
                                valueCol: String): DataFrame = {
    val x = col(valueCol).cast("double")
    val perItem = ratings.select(col(itemCol).as("item"), x.as("x"),
        (x.isNull || isnan(x)).cast("long").as("bad"))
      .groupBy("item").agg(count(lit(1)).as("m"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"), sum("bad").as("nbad"))
      .localCheckpoint()
    val empty = perItem.head(1).isEmpty
    require(!empty, "krippendorffAlphaInterval: empty frame")
    val badRow = perItem.agg(sum("nbad")).head()
    require(badRow.getLong(0) == 0,
      s"krippendorffAlphaInterval: ${badRow.getLong(0)} null/NaN " +
        s"$valueCol ratings — a missing numeric rating has no " +
        "distance; drop those rows (or use the nominal form)")
    val usable = perItem.filter(col("m") >= 2)
    val row = usable.agg(count(lit(1)).as("n_items"), sum("m").as("nr"),
      sum(lit(2.0) * (col("m") * col("sxx") - col("sx") * col("sx"))
        / (col("m") - lit(1)).cast("double")).as("do_num"),
      sum("sx").as("tx"), sum("sxx").as("txx")).head()
    require(!row.isNullAt(0) && row.getLong(0) > 0,
      "krippendorffAlphaInterval: no item has >= 2 ratings — " +
        "agreement is undefined on an all-singleton panel")
    val (nItems, nr) = (row.getLong(0), row.getLong(1))
    val dO = row.getDouble(2) / nr
    val dE = 2.0 * (nr * row.getDouble(4) - row.getDouble(3) *
      row.getDouble(3)) / (nr.toDouble * (nr - 1.0))
    val alpha = if (dE <= 0.0) 1.0 else 1.0 - dO / dE
    val spark = ratings.sparkSession
    import spark.implicits._
    Seq((nItems, nr, Num.round9(dO), Num.round9(dE), Num.round9(alpha)))
      .toDF("n_items", "n_ratings", "d_o", "d_e", "alpha")
  }

  /** Krippendorff's alpha, RATIO metric (Krippendorff 2004 §11) — the
    * third member of the standard metric trio ([[krippendorffAlpha]]
    * nominal, [[krippendorffAlphaInterval]] interval): for ratio-scale
    * ratings (counts, durations, token budgets — scales with a true
    * zero where "10 vs 20" disagrees like "100 vs 200"), disagreement
    * is the squared RELATIVE difference δ(x, y) = ((x−y)/(x+y))²,
    * which is invariant under x → a·x (the scale-invariance property
    * the spec pins). δ(0, 0) = 0 by continuity (identical ratings
    * never disagree). Unlike the interval form the pairwise sums do
    * NOT fold into power sums, so both D terms run over VALUE COUNTS:
    * within an item, Σ_{v,w} n_iv·n_iw·δ(v,w); for D_e the same over
    * the pooled usable ratings. Items with < 2 ratings are excluded
    * per the definition; all-singleton refuses; D_e = 0 (all ratings
    * one value) reports 1.0. Negative ratings refuse (x + y crosses
    * zero and δ is unbounded/undefined — a ratio scale is nonnegative
    * by definition); null/NaN refuse (the interval-form convention).
    * One row: (n_items, n_ratings, d_o, d_e, alpha), doubles rounded
    * at 9.
    *
    * Scale shape: ONE (item, value) hash aggregate whose guard
    * (census + emptiness + GLOBAL distinct-value count) runs BEFORE
    * either quadratic term is built — per-item distinct ≤ global
    * distinct ≤ `maxDistinct`, so the one refusal caps both the
    * within-item self-join (m_i² per item, never corpus²) and the d²
    * distinct-value cross for D_e (a ratio rating scale is bounded in
    * practice — quantize a continuous one first).
    *
    * BEHAVIOR CHANGE (r19): the default `maxDistinct` was tightened
    * 10000 → 2000 because this bound caps QUADRATIC work, not the
    * O(d) state the other maxDistinct guards cap — a call that used
    * to build 10⁸ value pairs silently now refuses. A caller whose
    * scale genuinely has 2001–10000 distinct values restores the old
    * behavior by passing `maxDistinct` explicitly; the refusal
    * message names the d² pair count so the cost is a stated choice.
    */
  def krippendorffAlphaRatio(ratings: DataFrame, itemCol: String,
                             valueCol: String,
                             maxDistinct: Int = 2000): DataFrame = {
    require(maxDistinct >= 1,
      s"krippendorffAlphaRatio: maxDistinct=$maxDistinct")
    val x = col(valueCol).cast("double")
    val badc = (x.isNull || isnan(x) || x < 0.0).cast("long")
    // ONE (item, value) aggregate; the null/NaN/negative census rides
    // it (the r18 hygiene-fold discipline)
    val cnt = ratings.select(col(itemCol).as("item"), x.as("v"),
        badc.as("__bad"))
      .groupBy("item", "v").agg(count(lit(1)).as("n"),
        sum("__bad").as("nbad"))
      .localCheckpoint()
    // census + emptiness + the distinct-value bound in ONE aggregate
    // over the checkpointed (item, value) frame, and the bound is
    // checked BEFORE the within-item self-join below is ever built —
    // per-item distinct <= global distinct, so this one refusal caps
    // BOTH quadratic terms (the refuse-before-blowup contract)
    val guard = cnt.agg(count(lit(1)).as("rows"), sum("nbad").as("bad"),
      countDistinct("v").as("nd")).head()
    val nBad = if (guard.isNullAt(1)) 0L else guard.getLong(1)
    require(nBad == 0,
      s"krippendorffAlphaRatio: $nBad null/NaN/negative $valueCol " +
        "ratings — the ratio metric needs a nonnegative scale; drop " +
        "missing rows (or use the nominal form)")
    require(guard.getLong(0) > 0, "krippendorffAlphaRatio: empty frame")
    val nd0 = guard.getLong(2)
    require(nd0 <= maxDistinct,
      s"krippendorffAlphaRatio: $nd0 distinct $valueCol values exceed " +
        s"maxDistinct=$maxDistinct — unlike the O(d)-state bounds " +
        s"elsewhere, this bound caps QUADRATIC work (the D_e term " +
        s"builds d² = ${nd0 * nd0} value pairs, plus each item's own " +
        "support²); quantize the scale first, or raise maxDistinct " +
        "knowing the d² cost")
    val perItem = cnt.groupBy("item").agg(sum("n").as("m"))
      .filter(col("m") >= 2)
    val usable = cnt.join(perItem, "item")
    // δ as ONE shared expression: ((v − w)/(v + w))², with the 0/0
    // tie mapped to 0 — the oracle replays the same CASE
    def delta(v: Column, w: Column): Column =
      when(v === w, lit(0.0))
        .otherwise(((v - w) / (v + w)) * ((v - w) / (v + w)))
    // within-item ordered-pair disagreement over value counts: the
    // self-join is keyed by item, so each item expands by its own
    // support² only
    val pairs = usable.select(col("item"), col("v"), col("n"), col("m"))
      .join(usable.select(col("item"), col("v").as("w"),
        col("n").as("nw")), "item")
      .groupBy("item")
      .agg(first("m").as("m"),
        sum(col("n") * col("nw") * delta(col("v"), col("w")))
          .as("pairsum"))
    val doRow = pairs.agg(count(lit(1)).as("n_items"), sum("m").as("nr"),
      sum(col("pairsum") / (col("m") - lit(1)).cast("double"))
        .as("do_num")).head()
    require(!doRow.isNullAt(0) && doRow.getLong(0) > 0,
      "krippendorffAlphaRatio: no item has >= 2 ratings — agreement " +
        "is undefined on an all-singleton panel")
    val (nItems, nr) = (doRow.getLong(0), doRow.getLong(1))
    val dO = doRow.getDouble(2) / nr
    // D_e over the pooled distinct-value counts of usable ratings —
    // already bounded by the up-front guard, so the d² cross is safe
    val vals = usable.groupBy("v").agg(sum("n").as("nv"))
      .localCheckpoint()
    val deRow = vals.select(col("v"), col("nv"))
      .crossJoin(broadcast(vals.select(col("v").as("w"),
        col("nv").as("nw"))))
      .agg(sum(col("nv") * col("nw") * delta(col("v"), col("w")))
        .as("s")).head()
    val dE = deRow.getDouble(0) / (nr.toDouble * (nr - 1.0))
    val alpha = if (dE <= 0.0) 1.0 else 1.0 - dO / dE
    val spark = ratings.sparkSession
    import spark.implicits._
    Seq((nItems, nr, Num.round9(dO), Num.round9(dE), Num.round9(alpha)))
      .toDF("n_items", "n_ratings", "d_o", "d_e", "alpha")
  }

  /** Exact strictly-below prefix sums over a DISTINCT-key frame WITHOUT
    * an unpartitioned window (the "WindowExec: No Partition Defined"
    * single-task sites in [[rocAuc]] / [[deLongMomentsPinned]] /
    * [[spearmanCorrelation]]). Returns `per` plus, for every
    * `(sumCol, outCol)` pair, a DOUBLE column `outCol` = Σ sumCol over
    * rows with STRICTLY smaller key.
    *
    * Plan choice is size-based and deterministic (see the cutoff note in
    * the body). The large-frame path is one range-partitioned sort on the
    * key and [[graft.api.MSTable.runningTotals]] (one census job, one
    * narrow pass); the strictly-below sum is the running total minus the
    * row's own value. Every summed column at the call sites holds
    * integer-valued counts, so the regrouped additions are BIT-identical
    * to the sequential unpartitioned prefix. Callers must have refused
    * NaN keys already (all three sites' hygiene censuses run before this
    * frame is built) and should pass a checkpointed `per`.
    */
  private[graft] def boundedPrefix(per: DataFrame, keyCol: String,
      sums: Seq[(String, String)], distinctCount: Long,
      smallCutoff: Long = 4096): DataFrame = {
    require(distinctCount >= 0,
      s"boundedPrefix: distinctCount >= 0: $distinctCount")
    // `distinctCount` comes from the caller's EXISTING hygiene job (every
    // site already aggregates the distinct-key frame once), so the plan
    // choice is size-based and deterministic, like AQE: a frame KNOWN to
    // be ≤ smallCutoff rows takes one bounded single-task window with an
    // explicit constant partition spec — identical execution to an
    // unpartitioned window at a size where one task is the right plan,
    // without tripping the scale-blind "No Partition Defined" warning —
    // and anything larger takes the sorted running total below. Both
    // paths are bit-identical (integer counts).
    if (distinctCount <= smallCutoff) {
      // the partition key is a NON-FOLDABLE constant (pmod(xxhash64(k), 1)
      // = 0 for every row, integer arithmetic — Inf/NaN-safe): a literal
      // key would be constant-folded out of the partition spec and the
      // planner would fall back to the spec-less single-partition window
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(pmod(xxhash64(col(keyCol)), lit(1))).orderBy(keyCol)
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val cums = sums.map { case (c, out) =>
        coalesce(sum(col(c).cast("double")).over(w), lit(0.0)).as(out)
      }
      return per.select(per.columns.map(col) ++ cums: _*)
    }
    graft.api.MSTable.runningTotals(per.orderBy(keyCol),
        sums.map { case (c, out) => Some(c) -> out })
      .select(per.columns.map(col) ++ sums.map { case (c, out) =>
        (col(out) - coalesce(col(c), lit(0))).cast("double").as(out) }: _*)
  }

  /** ROC AUC via the Mann–Whitney U identity (Hanley & McNeil 1982):
    * AUC = P(score⁺ > score⁻) + ½·P(tie), computed tie-exactly from
    * per-score aggregates — Σ_s n⁺(s)·(cumn⁻(<s) + n⁻(s)/2) over
    * n⁺·n⁻. Labels outside {0, 1} or null/NaN scores refuse loudly
    * (the [[calibrationReport]] convention); a single-class frame has
    * no ranking to measure and refuses too. One row:
    * (n_pos, n_neg, auc), doubles rounded at 9.
    *
    * Scale shape: ONE score hash aggregate — the hygiene census rides
    * it and the refusal reads the checkpointed distinct-score table,
    * so there is no separate filter scan — then the cumulative-
    * negative prefix sum runs over the DISTINCT-SCORE frame via
    * [[boundedPrefix]]: a sorted running total, never a single-task
    * unpartitioned window, and bit-identical to the sequential prefix
    * because the counts are integers. For corpus-scale continuous scores pass
    * `bins = Some(b)`: scores quantize to b fixed-width bins first
    * (scores must then lie in [0, 1]) and the same tie-exact formula
    * runs over ≤ b rows — the [[TextAnalysis.madOutliers]]
    * exact/approx convention.
    */
  def rocAuc(scored: DataFrame, scoreCol: String, labelCol: String,
             bins: Option[Int] = None): DataFrame = {
    bins.foreach(b => require(b >= 2, s"rocAuc: bins=$b"))
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("double")
    val rangeBad = bins.map(_ => s < 0 || s > 1).getOrElse(lit(false))
    val badc = (s.isNull || isnan(s) || y.isNull ||
      (y =!= 0.0 && y =!= 1.0) || rangeBad).cast("long")
    val key = bins match {
      case Some(b) => least(floor(s * b), lit(b - 1)).cast("long")
      case None    => s
    }
    // the hygiene census RIDES the one per-score aggregate (the r17
    // monitor discipline, applied to the batch leg per the r17
    // verdict): the refusal reads the checkpointed distinct-score
    // table — one corpus scan total, not a separate filter pass
    val perScore = scored.select(key.as("__s"), y.as("__y"),
        badc.as("__bad"))
      .groupBy("__s").agg(
        sum(col("__y")).as("np"),
        sum(lit(1.0) - col("__y")).as("nn"),
        sum("__bad").as("nbad"))
      .localCheckpoint()
    val badRow = perScore.agg(sum("nbad"), count(lit(1))).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(nBad == 0,
      "rocAuc: scores must be non-null, non-NaN" +
        (if (bins.isDefined) " in [0, 1] (binned mode)" else "") +
        " and labels in {0, 1} — clean the frame first")
    // the cumulative-negative prefix is [[boundedPrefix]] — a bounded
    // single task below the cutoff, a sorted running total above it —
    // never a scale-blind unpartitioned window; bit-identical either way
    // (integer counts). The distinct count rides the census.
    val contrib = boundedPrefix(perScore, "__s", Seq("nn" -> "cum_nn"),
        distinctCount = badRow.getLong(1))
      .select(col("np"), col("nn"), col("cum_nn"))
    val tot = contrib.agg(
        sum("np").as("n_pos"), sum("nn").as("n_neg"),
        sum(col("np") * (col("cum_nn") + col("nn") / 2)).as("u")).head()
    require(!tot.isNullAt(0), "rocAuc: empty frame")
    val (np, nn) = (tot.getDouble(0), tot.getDouble(1))
    require(np > 0 && nn > 0,
      s"rocAuc: need both classes present (pos=${np.toLong}, " +
        s"neg=${nn.toLong}) — a single-class frame has no ranking")
    val spark = scored.sparkSession
    import spark.implicits._
    Seq((np.toLong, nn.toLong,
      Num.round9(tot.getDouble(2) / (np * nn))))
      .toDF("n_pos", "n_neg", "auc")
  }

  /** Hanley–McNeil confidence interval for the ROC AUC (Hanley &
    * McNeil 1982, "The meaning and use of the area under a ROC
    * curve"): the closed-form standard error
    * SE² = (A(1−A) + (n₊−1)(Q₁−A²) + (n₋−1)(Q₂−A²)) / (n₊·n₋),
    * Q₁ = A/(2−A), Q₂ = 2A²/(1+A) (the exponential-scores
    * approximation — the conservative default when the score
    * distribution is unknown), with a normal-approximation interval
    * A ± z·SE clamped to [0, 1]. `z` defaults to 1.959964, the 95%
    * two-sided normal quantile as a FIXED literal (the same
    * philosophy as [[Num.erfcc]]'s fixed polynomial: an inverse-CDF
    * evaluation would be another engine-divergence surface; the
    * caller picks the constant, both engines replay it). The formula
    * is evaluated FROM the round(9)-pinned AUC [[rocAuc]] emits, so
    * the oracle replay starts from the identical double. One row:
    * (n_pos, n_neg, auc, se, ci_lo, ci_hi), doubles rounded at 9.
    *
    * Scale shape: [[rocAuc]]'s plan (one per-score hash aggregate +
    * the distinct-score prefix sum) plus O(1) driver arithmetic.
    */
  def rocAucCI(scored: DataFrame, scoreCol: String, labelCol: String,
               bins: Option[Int] = None,
               z: Double = Z95): DataFrame = {
    require(z > 0, s"rocAucCI: z must be positive: $z")
    val r = rocAuc(scored, scoreCol, labelCol, bins).head()
    val (np, nn, a) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    require(np >= 2 && nn >= 2,
      s"rocAucCI: the Hanley–McNeil variance needs >= 2 of each class " +
        s"(pos=$np, neg=$nn)")
    val q1 = a / (2.0 - a)
    val q2 = 2.0 * a * a / (1.0 + a)
    val se = math.sqrt((a * (1.0 - a) + (np - 1) * (q1 - a * a) +
      (nn - 1) * (q2 - a * a)) / (np.toDouble * nn))
    val spark = scored.sparkSession
    import spark.implicits._
    Seq((np, nn, a, Num.round9(se),
      Num.round9(math.max(0.0, a - z * se)),
      Num.round9(math.min(1.0, a + z * se))))
      .toDF("n_pos", "n_neg", "auc", "se", "ci_lo", "ci_hi")
  }

  /** DeLong's test (DeLong, DeLong & Clarke-Pearson 1988) for PAIRED
    * ROC AUC comparison — the ranking counterpart of [[mcnemarTest]]:
    * two models score the SAME holdout, and the question is whether
    * B's AUC genuinely exceeds A's or the delta is shared-row noise.
    * Per positive row, the tie-adjusted placement
    * V₁₀ = (#negatives below + ½·ties)/n₋; per negative,
    * V₀₁ = (#positives above + ½·ties)/n₊ — the AUC is the mean of
    * either column, and the PAIRED variance of the delta is
    * var = (S₁₀ᴬᴬ + S₁₀ᴮᴮ − 2S₁₀ᴬᴮ)/n₊ + (S₀₁ᴬᴬ + S₀₁ᴮᴮ − 2S₀₁ᴬᴮ)/n₋
    * over the unbiased sample (co)variances of the placement columns —
    * the cross terms are what pairing buys (a shared hard subpopulation
    * moves both models' placements together and cancels). z = Δ/√var,
    * two-sided p = erfc(|z|/√2) via [[Num.chi2P1]].
    *
    * Determinism across engines: placements are computed as INTEGER
    * scaled forms u = 2·(#below) + ties ∈ [0, 2n] and every moment
    * (Σu, Σu², Σu_A·u_B) is summed in exact decimal(38) arithmetic
    * (DuckDB's HUGEINT), so the only floating-point work is a fixed
    * driver-side expression over nine exact integers — the oracle
    * replays it operand for operand. Null/NaN scores and non-binary
    * labels refuse; both classes need ≥ 2 rows (the covariance
    * denominator); `maxDistinct` bounds each model's distinct-score
    * table (the [[isotonicCalibration]] quantize-first convention).
    * var ≤ 0 (e.g. byte-identical models) degenerates to z = 0,
    * p = 1. One row: (n_pos, n_neg, auc_a, auc_b, delta, se, z,
    * p_value, ci_lo, ci_hi), doubles rounded at 9 — the CI is the
    * normal interval Δ ± z·SE on the AUC delta at the FIXED literal
    * z = 1.959964 (the [[rocAucCI]] convention: both engines replay
    * the constant; var ≤ 0 collapses the interval to [Δ, Δ]).
    *
    * Scale shape: per model ONE per-distinct-score hash aggregate +
    * the [[rocAuc]] prefix sum over distinct scores (maxDistinct-
    * bounded), one score-keyed join back per model (broadcastable at
    * the guard's sizes), then ONE moment hash aggregate over the
    * corpus; O(1) driver state. The hygiene census and class totals
    * ride the first per-score aggregate ([[deLongMomentsPinned]]) —
    * one corpus scan total.
    */
  /** The placement-moment pipeline behind [[deLongTest]] — the pinned
    * corpus frame, both placement tables (census and totals riding the
    * first), the joins back, and the ONE moment aggregate — exposed
    * pre-`head` so the plan audit pins the broadcast-join/no-re-scan
    * claims on the real frames (the [[mcnemarAggregate]] convention).
    * Returns (moments, n_pos, n_neg).
    */
  private[graft] def deLongMoments(scored: DataFrame, labelCol: String,
      scoreACol: String, scoreBCol: String,
      maxDistinct: Int): (DataFrame, Long, Long) = {
    val y = col(labelCol).cast("double")
    val sA = col(scoreACol).cast("double")
    val sB = col(scoreBCol).cast("double")
    val badc = (y.isNull || (y =!= 0.0 && y =!= 1.0) ||
      sA.isNull || isnan(sA) || sB.isNull || isnan(sB)).cast("long")
    val rows = scored
      .select(y.as("__y"), sA.as("__va"), sB.as("__vb"), badc.as("__bad"))
      .localCheckpoint()
    deLongMomentsPinned(rows, maxDistinct)
  }

  /** [[deLongMoments]] from an already-pinned frame
    * `(__y, __va, __vb, __bad)` — the [[abReport]] sharing point. The
    * hygiene census AND the class totals RIDE model A's
    * per-distinct-score aggregate (the r17 monitor discipline,
    * applied to the batch leg per the r17 verdict): there is no
    * separate `.filter(bad).count()` corpus scan and no separate
    * totals aggregate — every refusal reads the tiny checkpointed
    * distinct-score tables, so the only corpus-shaped job is the
    * checkpoint materialization itself.
    */
  private[graft] def deLongMomentsPinned(rows: DataFrame,
      maxDistinct: Int): (DataFrame, Long, Long) = {
    def perScore(vCol: String): DataFrame =
      rows.groupBy(col(vCol).as("__v"))
        .agg(sum("__y").as("npv"),
          sum(lit(1.0) - col("__y")).as("nnv"),
          sum("__bad").as("nbad"))
        .localCheckpoint()
    val perA = perScore("__va")
    // census + class totals + distinct count, all read from the tiny
    // checkpointed distinct-score table — zero extra corpus jobs
    val t = perA.agg(count(lit(1)).as("nd"), sum("nbad").as("bad"),
      sum("npv").as("np"), sum("nnv").as("nn")).head()
    val nBad = if (t.isNullAt(1)) 0L else t.getLong(1)
    require(nBad == 0,
      "deLongTest: labels must be in {0, 1} and both scores non-null, " +
        "non-NaN — clean the frame first")
    require(!t.isNullAt(2), "deLongTest: empty frame")
    val np = t.getDouble(2).toLong
    val nn = t.getDouble(3).toLong
    require(np >= 2 && nn >= 2,
      s"deLongTest: need >= 2 rows of each class (pos=$np, neg=$nn) — " +
        "the placement covariance is undefined otherwise")
    require(t.getLong(0) <= maxDistinct,
      s"deLongTest: ${t.getLong(0)} distinct __va values exceed " +
        s"maxDistinct=$maxDistinct — quantize continuous " +
        "corpus-scale scores first")
    val perB = perScore("__vb")
    val ndB = perB.count()
    require(ndB <= maxDistinct,
      s"deLongTest: $ndB distinct __vb values exceed " +
        s"maxDistinct=$maxDistinct — quantize continuous " +
        "corpus-scale scores first")
    // per-model placement table over DISTINCT scores: u = the integer
    // 2·(#opposite-class strictly below) + (opposite-class ties) —
    // 2·n_opp·V, exact at any corpus size
    def placements(per: DataFrame, u: String, nd: Long): DataFrame = {
      // r22: boundedPrefix, never a scale-blind unpartitioned window;
      // the distinct counts rode the existing census/count jobs
      boundedPrefix(per, "__v", Seq("npv" -> "cnp", "nnv" -> "cnn"),
          distinctCount = nd)
        .select(col("__v"),
          // positives place against negatives below/tied; negatives
          // against positives above/tied — one column each, the row's
          // class picks at join time
          (lit(2.0) * col("cnn") + col("nnv")).cast("long").as(s"__u10$u"),
          (lit(2.0) * (lit(np.toDouble) - col("cnp") - col("npv")) +
            col("npv")).cast("long").as(s"__u01$u"))
    }
    val plA = placements(perA, "a", t.getLong(0))
    val plB = placements(perB, "b", ndB)
    val joined = rows
      .join(plA.withColumnRenamed("__v", "__va"), Seq("__va"))
      .join(plB.withColumnRenamed("__v", "__vb"), Seq("__vb"))
      .select(col("__y"),
        when(col("__y") === 1.0, col("__u10a")).otherwise(col("__u01a"))
          .as("ua"),
        when(col("__y") === 1.0, col("__u10b")).otherwise(col("__u01b"))
          .as("ub"))
    val dec = "decimal(19,0)"
    def m(c: Column): Column = c.cast("decimal(38,0)")
    val pos = col("__y") === 1.0
    val agg = joined.agg(
      sum(when(pos, m(col("ua")))).as("pa1"),
      sum(when(pos, m(col("ub")))).as("pb1"),
      sum(when(pos, col("ua").cast(dec) * col("ua").cast(dec))).as("paa"),
      sum(when(pos, col("ub").cast(dec) * col("ub").cast(dec))).as("pbb"),
      sum(when(pos, col("ua").cast(dec) * col("ub").cast(dec))).as("pab"),
      sum(when(!pos, m(col("ua")))).as("na1"),
      sum(when(!pos, m(col("ub")))).as("nb1"),
      sum(when(!pos, col("ua").cast(dec) * col("ua").cast(dec))).as("naa"),
      sum(when(!pos, col("ub").cast(dec) * col("ub").cast(dec))).as("nbb"),
      sum(when(!pos, col("ua").cast(dec) * col("ub").cast(dec))).as("nab"))
    (agg, np, nn)
  }

  /** Fixed-order driver arithmetic over the ten exact decimal(38)
    * moments — ONE expression tree shared by [[deLongTest]] and
    * [[abReport]] (the oracle mirrors it operand for operand; a second
    * copy would be a bit-parity drift surface). Returns the UNROUNDED
    * (auc_a, auc_b, delta, se, z, p). */
  private def deLongStats(agg: org.apache.spark.sql.Row, np: Long,
      nn: Long): (Double, Double, Double, Double, Double, Double) = {
    def d(i: Int): Double = agg.getDecimal(i).doubleValue
    val npD = np.toDouble; val nnD = nn.toDouble
    val aA = d(0) / (2.0 * nnD * npD)
    val aB = d(1) / (2.0 * nnD * npD)
    val a01A = d(5) / (2.0 * npD * nnD)
    val a01B = d(6) / (2.0 * npD * nnD)
    def cov10(sxy: Double, mx: Double, my: Double): Double =
      (sxy / (4.0 * nnD * nnD) - npD * mx * my) / (npD - 1.0)
    def cov01(sxy: Double, mx: Double, my: Double): Double =
      (sxy / (4.0 * npD * npD) - nnD * mx * my) / (nnD - 1.0)
    val v = (cov10(d(2), aA, aA) + cov10(d(3), aB, aB) -
      2.0 * cov10(d(4), aA, aB)) / npD +
      (cov01(d(7), a01A, a01A) + cov01(d(8), a01B, a01B) -
        2.0 * cov01(d(9), a01A, a01B)) / nnD
    val delta = aA - aB
    val (zz, p) =
      if (v <= 0.0) (0.0, 1.0)
      else { val z0 = delta / math.sqrt(v); (z0, Num.chi2P1(z0 * z0)) }
    (aA, aB, delta, if (v <= 0.0) 0.0 else math.sqrt(v), zz, p)
  }

  /** The 95% two-sided normal quantile as ONE fixed literal — used by
    * [[rocAucCI]]'s default z and [[deLongTest]]'s delta CI (an
    * inverse-CDF evaluation would be an engine-divergence surface;
    * both engines replay the constant, and a second copy of the digit
    * string would be a drift surface). */
  private[graft] val Z95: Double = 1.959964

  def deLongTest(scored: DataFrame, labelCol: String,
                 scoreACol: String, scoreBCol: String,
                 maxDistinct: Int = 100000): DataFrame = {
    val (moments, np, nn) =
      deLongMoments(scored, labelCol, scoreACol, scoreBCol, maxDistinct)
    val (aA, aB, delta, se, zz, p) = deLongStats(moments.head(), np, nn)
    val spark = scored.sparkSession
    import spark.implicits._
    Seq((np, nn, Num.round9(aA), Num.round9(aB), Num.round9(delta),
      Num.round9(se), Num.round9(zz), Num.round9(p),
      Num.round9(delta - Z95 * se), Num.round9(delta + Z95 * se)))
      .toDF("n_pos", "n_neg", "auc_a", "auc_b", "delta", "se", "z",
        "p_value", "ci_lo", "ci_hi")
  }

  /** The two aggregates behind [[abReport]], exposed pre-`head` so the
    * plan audit pins the one-pinned-frame discipline on the real
    * frames: (mcnemarAgg, deLongMoments, n_pos, n_neg), BOTH reading
    * the one localCheckpointed holdout — the McNemar aggregate plan
    * must show no corpus scan, and the moment aggregate keeps the
    * [[deLongMomentsPinned]] broadcast-placement shape.
    */
  private[graft] def abReportAggregates(scored: DataFrame,
      labelCol: String, scoreACol: String, scoreBCol: String,
      threshold: Double, maxDistinct: Int)
      : (DataFrame, DataFrame, Long, Long) = {
    val y = col(labelCol).cast("double")
    val sA = col(scoreACol).cast("double")
    val sB = col(scoreBCol).cast("double")
    val badc = (y.isNull || (y =!= 0.0 && y =!= 1.0) ||
      sA.isNull || isnan(sA) || sB.isNull || isnan(sB)).cast("long")
    val rows = scored
      .select(y.as("__y"), sA.as("__va"), sB.as("__vb"), badc.as("__bad"))
      .localCheckpoint()
    // the DeLong leg runs first: its per-score aggregate carries the
    // ONE combined census (labels, both scores), so by the time the
    // McNemar aggregate runs the frame is proven clean
    val (moments, np, nn) = deLongMomentsPinned(rows, maxDistinct)
    val preds = rows.select(col("__y"),
      (col("__va") >= threshold).cast("double").as("__pa"),
      (col("__vb") >= threshold).cast("double").as("__pb"))
    val e = mcnemarAggExprs("__y", "__pa", "__pb")
    (preds.agg(e.head, e.tail: _*), moments, np, nn)
  }

  /** Composed A/B decision report — [[mcnemarTest]] on the accuracy
    * axis (predictions = score ≥ `threshold`) AND [[deLongTest]] on
    * the ranking axis (raw scores), over ONE holdout scored by two
    * models: the single verdict row an eval run ends with. Promoted
    * from the r17 query-only composition (the r17 verdict's top ask):
    * hand-composing the two operators re-scans and re-pins the SAME
    * holdout ~5 corpus-shaped-job times; here the holdout is pinned
    * ONCE (localCheckpoint) and ONE combined hygiene census — null or
    * non-{0,1} labels, null/NaN scores on either model — rides the
    * DeLong leg's first per-distinct-score aggregate
    * ([[deLongMomentsPinned]]); the McNemar leg is one more six-column
    * aggregate ([[mcnemarAggExprs]] — the same single-sourced
    * expressions as the batch test and the streaming monitor) over the
    * same checkpointed rows. Refusal semantics are the DeLong leg's
    * (strictly stronger than McNemar's null-label check). One row:
    * (n, acc_a, acc_b, b_discordant, c_discordant, mcnemar_stat,
    * mcnemar_p, auc_a, auc_b, auc_delta, delong_z, delong_p), doubles
    * rounded at 9 — bit-identical to composing the two operators by
    * hand (both statistics are the same shared closed forms).
    *
    * Scale shape: ONE corpus scan (the checkpoint materialization),
    * then two bounded aggregates over the pinned frame — the moment
    * aggregate with its broadcast maxDistinct-bounded placement
    * joins, and the six-column McNemar hash aggregate; O(1) driver
    * state.
    */
  def abReport(scored: DataFrame, labelCol: String, scoreACol: String,
               scoreBCol: String, threshold: Double = 0.5,
               maxDistinct: Int = 100000): DataFrame = {
    val (mcAgg, moments, np, nn) = abReportAggregates(scored, labelCol,
      scoreACol, scoreBCol, threshold, maxDistinct)
    val (aA, aB, delta, _, zz, p) = deLongStats(moments.head(), np, nn)
    val row = mcAgg.head()
    val (n, ca, cb, b, c) = (row.getLong(0), row.getLong(2),
      row.getLong(3), row.getLong(4), row.getLong(5))
    val (accA, accB, stat, pMc) = mcnemarStats(n, ca, cb, b, c)
    val spark = scored.sparkSession
    import spark.implicits._
    Seq((n, Num.round9(accA), Num.round9(accB),
      b, c, Num.round9(stat), Num.round9(pMc),
      Num.round9(aA), Num.round9(aB), Num.round9(delta),
      Num.round9(zz), Num.round9(p)))
      .toDF("n", "acc_a", "acc_b", "b_discordant", "c_discordant",
        "mcnemar_stat", "mcnemar_p", "auc_a", "auc_b", "auc_delta",
        "delong_z", "delong_p")
  }

  /** Isotonic calibration via Pool-Adjacent-Violators (Ayer 1955;
    * Zadrozny & Elkan 2002's calibration use) — the nonparametric
    * repair for the miscalibration [[calibrationReport]] measures:
    * fit the monotone-nondecreasing step function minimizing squared
    * error from score to P(label=1). Returns the step table —
    * (score_lo, score_hi, n, fitted) per pool, scores ascending,
    * fitted nondecreasing — to apply with a range join or a sorted
    * broadcast lookup. Input hygiene matches [[calibrationReport]]
    * (null/NaN scores, non-binary labels refuse).
    *
    * Scale shape: scores reduce to per-DISTINCT-score (Σy, n) rows in
    * ONE hash aggregate; PAV itself is an O(distinct) driver fold
    * with an O(distinct) stack, bounded by `maxDistinct` with a
    * refusal pointing continuous corpus-scale scores at quantization
    * (feed `least(floor(score·b), b−1)/b` buckets) — the
    * [[splitConformal]] honesty convention. The fitted means are
    * exact integer ratios (Σy/n per pool), so the step table is
    * bit-reproducible.
    *
    * NOTE: the `maxDistinct` DEFAULT was tightened 1 000 000 → 100 000
    * (a million-entry driver sort/stack is already past where
    * quantization is strictly better — 10⁵ buckets resolve any
    * realistic calibration curve). Callers with 100k–1M genuinely
    * distinct scores that relied on the old default must now opt in
    * explicitly (`maxDistinct = 1000000`) or — recommended — quantize.
    */
  def isotonicCalibration(scored: DataFrame, scoreCol: String,
                          labelCol: String,
                          maxDistinct: Int = 100000): DataFrame = {
    require(maxDistinct >= 1,
      s"isotonicCalibration: maxDistinct=$maxDistinct")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("double")
    val badc = (s.isNull || isnan(s) ||
      y.isNull || (y =!= 0.0 && y =!= 1.0)).cast("long")
    // pinned: the census, the count guard and the sorted collect all
    // read this one aggregate instead of re-scanning the corpus (the
    // hygiene rides the aggregate — r18 fold; one corpus scan total)
    val perScore = scored.select(s.as("__s"), y.as("__y"),
        badc.as("__bad"))
      .groupBy("__s").agg(sum("__y").as("sy"), count(lit(1)).as("n"),
        sum("__bad").as("nbad"))
      .localCheckpoint()
    val guard = perScore.agg(count(lit(1)).as("nd"),
      sum("nbad").as("bad")).head()
    val nBad = if (guard.isNullAt(1)) 0L else guard.getLong(1)
    require(nBad == 0,
      "isotonicCalibration: scores must be non-null/non-NaN and labels " +
        "in {0, 1} — clean the frame first")
    val nd = guard.getLong(0)
    require(nd > 0, "isotonicCalibration: empty frame")
    require(nd <= maxDistinct,
      s"isotonicCalibration: $nd distinct scores exceed " +
        s"maxDistinct=$maxDistinct — quantize continuous corpus-scale " +
        "scores into buckets first (floor(score*b)/b)")
    val pts = perScore.orderBy("__s").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
    // PAV: maintain a stack of pools (lo, hi, sy, n); merge while the
    // top two violate monotonicity of the pool means
    val stack = scala.collection.mutable.ArrayBuffer
      .empty[(Double, Double, Double, Long)]
    pts.foreach { case (sc, sy, n) =>
      stack += ((sc, sc, sy, n))
      while (stack.length >= 2 && {
        val a = stack(stack.length - 2); val b = stack.last
        // integer-exact violation test: sy_a/n_a > sy_b/n_b ⇔
        // sy_a·n_b > sy_b·n_a (sums are exact-integer doubles)
        a._3 * b._4 > b._3 * a._4
      }) {
        val b = stack.remove(stack.length - 1)
        val a = stack.remove(stack.length - 1)
        stack += ((a._1, b._2, a._3 + b._3, a._4 + b._4))
      }
    }
    val spark = scored.sparkSession
    import spark.implicits._
    stack.toSeq.map { case (lo, hi, sy, n) =>
      (lo, hi, n, Num.round9(sy / n))
    }.toDF("score_lo", "score_hi", "n", "fitted")
  }

  /** Split-conformal prediction threshold (Vovk 2005; the Papadopoulos
    * 2002 split recipe): given a CALIBRATION set of nonconformity
    * scores (higher = stranger) and a miscoverage budget α, the
    * threshold is the k-th smallest calibration score with
    * k = ⌈(n+1)·(1−α)⌉ — accepting test points with score ≤ threshold
    * then guarantees ≥ 1−α coverage (finite-sample, distribution-free,
    * assuming exchangeability). Also measures the empirical coverage
    * of that threshold on a TEST frame. k > n (tiny n with small α)
    * means no finite threshold certifies 1−α — refused loudly rather
    * than returning +∞. One row: (n_cal, k, threshold, n_test,
    * coverage), doubles rounded at 9.
    *
    * Scale shape: the calibration set is by construction a held-out
    * SAMPLE (10³..10⁵ scores), not the corpus — sorted on the driver
    * under `maxCalibration` with a refusal pointing corpus-sized
    * frames back at a sampler; the test-side coverage is one
    * distributed scalar aggregate. The exact order statistic is the
    * whole point of conformal's finite-sample guarantee, so there is
    * deliberately no approximate tier.
    */
  def splitConformal(calibration: DataFrame, scoreCol: String,
                     test: DataFrame, testScoreCol: String,
                     alpha: Double = 0.1,
                     maxCalibration: Int = 1000000): DataFrame = {
    require(alpha > 0 && alpha < 1, s"splitConformal: alpha=$alpha")
    require(maxCalibration >= 1,
      s"splitConformal: maxCalibration=$maxCalibration")
    val spark = calibration.sparkSession
    import spark.implicits._
    val s = col(scoreCol).cast("double")
    val cal = calibration.select(s.as("__s"))
    // census + size in ONE aggregate (r18 hygiene fold) — the sorted
    // collect below is then the second and LAST read of the (by
    // construction sampled, maxCalibration-bounded) calibration frame
    val calStats = cal.agg(count(lit(1)).as("n"),
      sum((col("__s").isNull || isnan(col("__s"))).cast("long"))
        .as("bad")).head()
    val badCal = if (calStats.isNullAt(1)) 0L else calStats.getLong(1)
    require(badCal == 0,
      "splitConformal: null/NaN calibration scores — clean the frame")
    val n = calStats.getLong(0)
    require(n > 0, "splitConformal: empty calibration set")
    require(n <= maxCalibration,
      s"splitConformal: $n calibration scores exceed " +
        s"maxCalibration=$maxCalibration — calibration is a held-out " +
        "sample by construction; sample the frame first")
    val k = math.ceil((n + 1) * (1.0 - alpha)).toLong
    require(k <= n,
      s"splitConformal: k=$k > n=$n — too few calibration points to " +
        s"certify ${1 - alpha} coverage (need n >= ${k})")
    val scores = cal.as[Double].collect().sorted
    val threshold = scores(k.toInt - 1)
    val t = col(testScoreCol).cast("double")
    // the test-side census rides the ONE coverage aggregate; the
    // refusal reads the single result row before any value is used
    val cov = test.agg(count(lit(1)).as("n_test"),
      avg((t <= threshold).cast("double")).as("coverage"),
      sum((t.isNull || isnan(t)).cast("long")).as("bad")).head()
    val badTest = if (cov.isNullAt(2)) 0L else cov.getLong(2)
    require(badTest == 0,
      "splitConformal: null/NaN test scores — coverage over them is " +
        "undefined; clean the frame")
    Seq((n, k, threshold, cov.getLong(0),
      if (cov.isNullAt(1)) 0.0 else cov.getDouble(1)))
      .toDF("n_cal", "k", "threshold", "n_test", "coverage")
      .select(col("n_cal"), col("k"),
        round(col("threshold"), 9).as("threshold"), col("n_test"),
        round(col("coverage"), 9).as("coverage"))
  }

  /** k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    * 2007) over quasi-identifier columns — the release gate for a
    * dataset with user-linked rows: every row should sit in an
    * equivalence class (identical quasi-identifier tuple) of size
    * ≥ k, and each class should carry ≥ l distinct sensitive values
    * so the class doesn't leak the attribute it hides. One row:
    * (n_rows, n_classes, min_class_size, rows_below_k,
    * classes_below_k, min_l_diversity, classes_below_l) for the given
    * thresholds. Nulls in quasi-identifiers are a value (they group);
    * null sensitive values count as one distinct value. Empty frames
    * refuse.
    *
    * Scale shape: ONE (quasi…, sensitive) hash aggregate, one class
    * reduce over it, one scalar fold — no window, no join.
    */
  def privacyAudit(df: DataFrame, quasiCols: Seq[String],
                   sensitiveCol: String, k: Int = 5,
                   l: Int = 2): DataFrame = {
    require(quasiCols.nonEmpty, "privacyAudit: no quasi-identifiers")
    require(k >= 1 && l >= 1, s"privacyAudit: k=$k l=$l")
    // group by the quasi columns THEMSELVES - a concatenated key
    // could collapse distinct tuples that happen to concatenate
    // identically, silently overstating class sizes. Nulls group
    // NATIVELY (GROUP BY keeps them as their own key) rather than via
    // a string sentinel: a sentinel would merge null rows with rows
    // whose actual value IS the sentinel string, hiding a real
    // k-anonymity violation in the unsafe direction
    val qNames = quasiCols.indices.map(i => s"__q$i")
    val qs = quasiCols.zip(qNames).map { case (c, n) =>
      col(c).cast("string").as(n)
    }
    val cls = df.select(qs :+
        col(sensitiveCol).cast("string").as("__s"): _*)
      .groupBy(qNames.head, qNames.tail :+ "__s": _*)
      .agg(count(lit(1)).as("n"))
      .groupBy(qNames.head, qNames.tail: _*)
      .agg(sum("n").as("size"), count(lit(1)).as("ldiv"))
    val out = cls.agg(
        sum("size").as("n_rows"), count(lit(1)).as("n_classes"),
        min("size").as("min_class_size"),
        sum(when(col("size") < k, col("size")).otherwise(0L))
          .as("rows_below_k"),
        sum(when(col("size") < k, 1L).otherwise(0L))
          .as("classes_below_k"),
        min("ldiv").as("min_l_diversity"),
        sum(when(col("ldiv") < l, 1L).otherwise(0L))
          .as("classes_below_l")).head()
    require(!out.isNullAt(0), "privacyAudit: empty frame")
    val spark = df.sparkSession
    import spark.implicits._
    Seq((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3),
      out.getLong(4), out.getLong(5), out.getLong(6)))
      .toDF("n_rows", "n_classes", "min_class_size", "rows_below_k",
        "classes_below_k", "min_l_diversity", "classes_below_l")
  }

  /** Per-slice accuracy — the fairness/robustness cut of
    * [[classificationReport]] (a 95% aggregate can hide a 60% slice;
    * slice-level evaluation is how that's caught): one row per slice
    * with n, n_correct, accuracy, plus the gap to the OVERALL
    * accuracy (negative = underperforming slice). Null slices report
    * as `__null__`; null LABELS refuse (un-scorable ground truth would
    * otherwise silently inflate accuracy when the prediction is also
    * null); a null PREDICTION against a non-null label scores as
    * wrong via null-safe equality — no string sentinel, so a literal
    * `"__null__"` label can never collide with a missing prediction.
    * Doubles rounded at 9; accuracies are exact integer ratios.
    *
    * Scale shape: ONE slice hash aggregate + a broadcast 1-row
    * overall scalar — no second corpus pass (the per-slice counts
    * fold into the overall).
    */
  def sliceAccuracy(scored: DataFrame, labelCol: String,
                    predCol: String, sliceCol: String): DataFrame = {
    val eq = (col(labelCol).cast("string") <=> col(predCol).cast("string"))
      .cast("long")
    // the null-label census rides the SAME single hash aggregate as the
    // slice counts (a separate hygiene scan would double the corpus
    // I/O the doc promises not to pay); the refusal reads the tiny
    // checkpointed per-slice frame
    val per = scored.select(
        coalesce(col(sliceCol).cast("string"), lit("__null__"))
          .as("slice"),
        eq.as("__c"), col(labelCol).isNull.cast("long").as("__nl"))
      .groupBy("slice").agg(count(lit(1)).as("n"),
        sum("__c").as("n_correct"), sum("__nl").as("__nulls"))
      .localCheckpoint()
    require(per.head(1).nonEmpty, "sliceAccuracy: empty frame")
    val nullLabels = per.agg(sum("__nulls")).head().getLong(0)
    require(nullLabels == 0,
      s"sliceAccuracy: $nullLabels null $labelCol values — a null " +
        "label is un-scorable ground truth; clean the frame first")
    val overall = per.agg(
      (sum("n_correct").cast("double") / sum("n")).as("__oa"))
    per.crossJoin(broadcast(overall))
      .select(col("slice"), col("n"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n"), 9)
          .as("accuracy"),
        round(col("n_correct").cast("double") / col("n") - col("__oa"), 9)
          .as("gap_vs_overall"))
  }

  /** Per-slice ranking quality — [[sliceAccuracy]] on the RANKING axis
    * and the batch twin of the streaming
    * [[graft.streaming.EventStream.windowedEval]] (the identical
    * (key, bin) kernel, keyed by slice instead of window): for each
    * slice, the binned tie-exact ROC AUC (trapezoidal over `bins`
    * score buckets, within-bucket ties at half credit) and the
    * collapsed calibration ECE Σ_b |Σscore_b − Σpos_b| / n — the
    * fairness cut a threshold-free score demands, because a healthy
    * overall AUC can hide a slice the model ranks no better than
    * chance ([[sliceAccuracy]] can't see it until a threshold is
    * picked). Single-class slices report auc NULL rather than
    * inventing a ranking (the windowedEval convention — a fairness
    * report must list every slice). Null slices report as `__null__`;
    * the score/label hygiene census rides the one aggregate. One row
    * per slice: (slice, n, auc, ece), doubles rounded at 9.
    *
    * Scale shape: ONE (slice, bin) hash aggregate over the corpus —
    * slices·bins tiny rows — then a bin-ordered prefix sum PARTITIONED
    * BY slice (never a global window) and a per-slice reduce.
    */
  def sliceEval(scored: DataFrame, scoreCol: String, labelCol: String,
                sliceCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"sliceEval: bins must be >= 2: $bins")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("double")
    val bad = (s.isNull || isnan(s) || s < 0 || s > 1 ||
      y.isNull || (y =!= 0.0 && y =!= 1.0)).cast("long")
    val bin = least(floor(s * bins), lit(bins - 1)).cast("int")
    val per = scored
      .groupBy(coalesce(col(sliceCol).cast("string"), lit("__null__"))
        .as("slice"), bin.as("bin"))
      .agg(sum(y).as("np"), sum(lit(1.0) - y).as("nn"),
        sum(s).as("ssum"), sum(bad).as("__bad"))
      .localCheckpoint()
    require(per.head(1).nonEmpty, "sliceEval: empty frame")
    val badRow = per.agg(sum("__bad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(nBad == 0,
      "sliceEval: scores must be non-null in [0, 1] and labels in " +
        "{0, 1} — clean the frame first")
    val bySlice = Window.partitionBy("slice").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, -1)
    val contrib = per.select(col("slice"), col("np"), col("nn"),
      col("ssum"),
      coalesce(sum("nn").over(bySlice), lit(0.0)).as("cum_nn"))
    contrib.groupBy("slice")
      .agg((sum("np") + sum("nn")).cast("long").as("n"),
        round(when(sum("np") > 0 && sum("nn") > 0,
          sum(col("np") * (col("cum_nn") + col("nn") / 2)) /
            (sum("np") * sum("nn"))), 9).as("auc"),
        round(sum(abs(col("ssum") - col("np"))) /
          (sum("np") + sum("nn")), 9).as("ece"))
  }

  /** Poisson-bootstrap confidence interval for a mean (Chamandy et al.
    * 2012 — the bootstrap that works on one distributed pass: each
    * replicate reweights every row by an independent Poisson(1) draw
    * instead of resampling n-of-n, which is exactly what a resample
    * converges to and needs no global coordination). The draw is the
    * engine-portable md5 uniform keyed by (id, replicate), pushed
    * through the λ=1 inverse CDF (thresholds P(X≤0)..P(X≤7); the
    * residual 4.5e-6 tail mass draws weight 8 — the same
    * deterministic-draw discipline every sampler here uses), so the
    * whole trajectory is replayable in SQL. CI =
    * the percentile method on the B replicate means with the
    * conventional ⌈α/2·(B+1)⌉ / ⌊(1−α/2)·(B+1)⌋ order statistics.
    * One row: (n, mean, se, ci_lo, ci_hi), doubles rounded at 9.
    *
    * Scale shape: ONE hash aggregate computes ALL B replicate sums —
    * the B weighted sums are generated columns of the same pass (no
    * explode: a B-fold row expansion at corpus scale would read 200×
    * the data); the percentile fold is O(B) driver arithmetic.
    */
  /** The single pass behind [[bootstrapMeanCI]]: (n, Σx, then per
    * replicate Σw·x, Σw as generated columns). Exposed for the plan
    * audit that pins the no-explode claim.
    *
    * r21 shape: the draw chain is FACTORED into two scan-side
    * projections — the md5 uniform once per (row, replicate), then the
    * inverse-CDF CASE over that u ATTRIBUTE — before the one aggregate
    * folds the (Σw·x, Σw) pairs over plain column refs. Inlining the
    * whole weight into every aggregate expression (the pre-r21 shape)
    * duplicated the md5 subtree in each of the 8 CASE branches × 2 sums
    * per replicate, an ~8x larger expression tree whose optimizer walk
    * and multi-MiB serialized task binary dominated the query at bench
    * scale (the aggregate's 2+2B output columns also sit past the
    * whole-stage-codegen field limit, so nothing downstream CSE'd the
    * duplicates away). The arithmetic per row is operation-for-
    * operation identical, so the replicate sums are bit-identical. */
  private[graft] def bootstrapAggregate(df: DataFrame, x: Column,
      idCol: String, replicates: Int): DataFrame = {
    val p1 = df.select((x.as("__x") +:
      (0 until replicates).map(b => uniformDraw(idCol, b).as(s"__u$b"))): _*)
    val p2 = p1.select((col("__x") +:
      (0 until replicates).map(b =>
        poissonFromU(col(s"__u$b")).as(s"__w$b"))): _*)
    val sums = (0 until replicates).flatMap { b =>
      Seq(sum(col(s"__w$b") * col("__x")).as(s"sx$b"),
        sum(col(s"__w$b")).as(s"sw$b"))
    }
    val base = Seq(count(lit(1)).as("n"), sum(col("__x")).as("sx"))
    p2.agg(base.head, (base.tail ++ sums): _*)
  }

  /** The engine-portable md5 uniform keyed by (id, replicate): the first
    * 8 md5 hex chars of "id|bs<b>" as a 32-bit integer over 2^32. */
  private[graft] def uniformDraw(idCol: String, b: Int): Column =
    conv(substring(md5(
      concat(col(idCol).cast("string"), lit(s"|bs$b"))), 1, 8), 16, 10)
      .cast("double") / math.pow(2.0, 32)

  /** Inverse-CDF Poisson(1) lookup over an ALREADY-COMPUTED uniform
    * column — 8 CASE branches referencing one attribute, so the draw
    * subtree is never duplicated into the branches. */
  private[graft] def poissonFromU(u: Column): Column = {
    val cdf = Seq(0.367879441171, 0.735758882343, 0.919698602929,
      0.980988177458, 0.996310663590, 0.999405960861, 0.999921843700,
      0.999995541392)
    cdf.zipWithIndex.foldRight(lit(8): Column) { case ((t, k), acc) =>
      when(u < t, k).otherwise(acc)
    }.cast("double")
  }

  def bootstrapMeanCI(df: DataFrame, valueCol: String, idCol: String,
                      replicates: Int = 200,
                      alpha: Double = 0.05): DataFrame = {
    require(replicates >= 10 && replicates <= 10000,
      s"bootstrapMeanCI: replicates=$replicates")
    require(alpha > 0 && alpha < 1, s"bootstrapMeanCI: alpha=$alpha")
    val x = col(valueCol).cast("double")
    // census + duplicate-id check in ONE corpus aggregate (r18
    // hygiene fold): null/NaN values or null ids refuse first (a null
    // id would weight its row by the CASE default in EVERY replicate,
    // and would silently shrink countDistinct), then exact-vs-distinct
    // id counts refuse duplicates — which draw IDENTICAL weights
    // across replicates, correlating the resample
    val dup = df.agg(count(lit(1)).as("n"),
      countDistinct(col(idCol)).as("d"),
      sum((x.isNull || isnan(x) || col(idCol).isNull).cast("long"))
        .as("bad")).head()
    val nBad = if (dup.isNullAt(2)) 0L else dup.getLong(2)
    require(nBad == 0,
      "bootstrapMeanCI: null/NaN values or null ids — a null id would " +
        "weight its row by the CASE default in EVERY replicate; clean " +
        "the frame first")
    require(dup.getLong(0) == dup.getLong(1),
      s"bootstrapMeanCI: ${dup.getLong(0) - dup.getLong(1)} duplicate " +
        s"$idCol values — the per-row draw is keyed by id, so " +
        "duplicates correlate replicates; supply a unique id")
    val row = bootstrapAggregate(df, x, idCol, replicates).head()
    require(row.getLong(0) > 0, "bootstrapMeanCI: empty frame")
    val n = row.getLong(0)
    val mean = row.getDouble(1) / n
    val means = (0 until replicates).map { b =>
      val (sx, sw) = (row.getDouble(2 + 2 * b), row.getDouble(3 + 2 * b))
      if (sw > 0) sx / sw else mean // all-zero-weight replicate: center
    }.sorted
    // power-sum form, mirroring the SQL oracle's formula so both
    // engines cancel the same way
    val sm = means.sum
    val smm = means.map(m => m * m).sum
    // clamp the radicand at 0: when all replicate means are (near-)
    // identical, floating-point cancellation can push it fractionally
    // negative, which would surface as se = NaN
    val se = math.sqrt(math.max(0.0,
      (smm - sm * sm / replicates) / (replicates - 1)))
    val loIdx = math.max(1,
      math.ceil(alpha / 2 * (replicates + 1)).toInt)
    val hiIdx = math.min(replicates,
      math.floor((1 - alpha / 2) * (replicates + 1)).toInt)
    require(loIdx <= hiIdx,
      s"bootstrapMeanCI: B=$replicates is too small to resolve " +
        s"alpha=$alpha percentiles (order stats $loIdx > $hiIdx) — " +
        "raise replicates or lower alpha")
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, Num.round9(mean), Num.round9(se),
      Num.round9(means(loIdx - 1)), Num.round9(means(hiIdx - 1))))
      .toDF("n", "mean", "se", "ci_lo", "ci_hi")
  }

  /** Regression quality report for a numeric predictor (a quality
    * scorer regressed on human ratings, a length estimator, a reward
    * model vs gold): n, MAE, RMSE, R² (1 − SSE/SST) and the Pearson
    * correlation, the last computed from raw power sums
    * (nΣxy − ΣxΣy)/√((nΣx² − (Σx)²)(nΣy² − (Σy)²)) so both engines
    * divide the same accumulated doubles rather than each using its
    * own covariance formulation. Null/NaN on either side refuses. A
    * constant target (SST = 0) reports R² = 0 and pearson = 0 — no
    * variance to explain. One row, doubles rounded at 9.
    *
    * Scale shape: ONE scalar aggregate over the corpus — every metric
    * folds from the same pass.
    */
  /** The ONE power-sum aggregate behind [[regressionReport]] — count,
    * the riding hygiene census, and the seven error/power sums —
    * exposed pre-`head` so the plan audit pins the one-scan claim on
    * the real aggregate (the [[bootstrapAggregate]] convention). */
  private[graft] def regressionAggregate(df: DataFrame, x: Column,
      y: Column): DataFrame =
    df.agg(count(lit(1)).as("n"),
      sum((x.isNull || isnan(x) || y.isNull || isnan(y)).cast("long"))
        .as("nbad"),
      sum(abs(x - y)).as("sae"),
      sum((x - y) * (x - y)).as("sse"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"),
      sum(x * y).as("sxy"))

  def regressionReport(df: DataFrame, predCol: String,
                       targetCol: String): DataFrame = {
    val x = col(predCol).cast("double")
    val y = col(targetCol).cast("double")
    // the census rides the one aggregate (r18 hygiene fold) and is
    // read off the single result row before any sum is touched
    val r = regressionAggregate(df, x, y).head()
    val nBad = if (r.isNullAt(1)) 0L else r.getLong(1)
    require(nBad == 0,
      "regressionReport: null/NaN predictions or targets — clean the " +
        "frame first")
    require(!r.isNullAt(0) && r.getLong(0) > 0,
      "regressionReport: empty frame")
    val n = r.getLong(0).toDouble
    val (sae, sse) = (r.getDouble(2), r.getDouble(3))
    val (sx, sy) = (r.getDouble(4), r.getDouble(5))
    val (sxx, syy, sxy) = (r.getDouble(6), r.getDouble(7), r.getDouble(8))
    val sst = syy - sy * sy / n
    val varX = n * sxx - sx * sx
    val varY = n * syy - sy * sy
    val r2 = if (sst > 0) 1.0 - sse / sst else 0.0
    val pearson =
      if (varX > 0 && varY > 0)
        (n * sxy - sx * sy) / math.sqrt(varX * varY)
      else 0.0
    val spark = df.sparkSession
    import spark.implicits._
    Seq((r.getLong(0), Num.round9(sae / n),
      Num.round9(math.sqrt(sse / n)), Num.round9(r2),
      Num.round9(pearson)))
      .toDF("n", "mae", "rmse", "r2", "pearson")
  }

  /** Spearman rank correlation with average-tie ranks — the monotone-
    * association check Pearson misses (is the quality score ORDERING
    * documents like the gold rating does, linearity aside?): both
    * sides rank as r(v) = count(< v) + (count(= v) + 1)/2, then the
    * Pearson power-sum formula runs on the rank pairs. Ranks are
    * half-integers, so the power sums stay EXACT (and the result
    * bit-identical to the SQL oracle's window replay) while
    * Σ rank² < 2^51 — about n ≲ 1.9·10⁵ rows; past that the two
    * engines' summation orders can differ in the last ulp, which the
    * round(9) pin absorbs except exactly at a rounding boundary.
    * Constant sides report 0 (the [[regressionReport]] convention).
    * One row: (n, spearman), rounded at 9.
    *
    * Scale shape: one per-value hash aggregate per side and the
    * prefix-rank window over DISTINCT values — the [[rocAuc]] shape.
    * `maxDistinct` refuses a genuinely continuous corpus-scale column
    * BEFORE the rank frames are built and broadcast (the
    * [[isotonicCalibration]] convention): pre-quantize
    * (`floor(score·b)/b`) and re-run.
    */
  def spearmanCorrelation(df: DataFrame, aCol: String, bCol: String,
                          maxDistinct: Int = 1000000): DataFrame = {
    require(maxDistinct >= 1,
      s"spearmanCorrelation: maxDistinct=$maxDistinct")
    val xa = col(aCol).cast("double")
    val xb = col(bCol).cast("double")
    val badc = (xa.isNull || isnan(xa) || xb.isNull || isnan(xb))
      .cast("long")
    // the corpus is pinned ONCE (r18 hygiene fold): both per-value
    // aggregates, the rank join, and the census all read this
    // checkpoint — one corpus scan total, where the r17 shape paid a
    // hygiene filter pass plus two per-side scans
    val base = df.select(xa.as("__a"), xb.as("__b"), badc.as("__bad"))
      .localCheckpoint()
    // the per-value aggregates double as the distinct census (and side
    // A's carries the null/NaN census): checkpoint them, count the
    // (bounded) result, and only THEN window/broadcast — the
    // refuse-before-broadcast contract without a separate
    // countDistinct corpus pass (review-fixed)
    def perValue(c: String): DataFrame =
      base.groupBy(col(c).as("__v"))
        .agg(count(lit(1)).as("cnt"), sum("__bad").as("nbad"))
        .localCheckpoint()
    val pa = perValue("__a")
    val pb = perValue("__b")
    val badRow = pa.agg(sum("nbad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(nBad == 0,
      "spearmanCorrelation: null/NaN values — clean the frame first")
    val (da, db) = (pa.count(), pb.count())
    require(da > 0 && db > 0, "spearmanCorrelation: empty frame")
    require(da <= maxDistinct && db <= maxDistinct,
      s"spearmanCorrelation: $da/$db distinct values exceed " +
        s"maxDistinct=$maxDistinct — quantize continuous corpus-scale " +
        "columns first (floor(score*b)/b)")
    def ranked(pv: DataFrame, out: String, nd: Long): DataFrame =
      // r22: boundedPrefix, never a scale-blind unpartitioned window;
      // the distinct counts rode the existing census jobs
      boundedPrefix(pv, "__v", Seq("cnt" -> "__below"), distinctCount = nd)
        .select(col("__v"),
          (col("__below") + (col("cnt") + 1) / lit(2.0)).as(out))
    val ra = ranked(pa, "ra", da)
    val rb = ranked(pb, "rb", db)
    // pinned: regressionReport's riding census and its power-sum agg
    // both read this checkpoint instead of re-executing the two
    // window sorts and joins (review-fixed)
    val pairs = base.select(col("__a"), col("__b"))
      .join(broadcast(ra), col("__a") === col("__v")).drop("__v")
      .join(broadcast(rb), col("__b") === col("__v")).drop("__v")
      .select(col("ra").as("p"), col("rb").as("t"))
      .localCheckpoint()
    regressionReport(pairs, "p", "t")
      .select(col("n"), col("pearson").as("spearman"))
  }

  /** Pearson chi-square test of independence + Cramér's V between two
    * categorical columns — the drift/association check for label-vs-
    * source audits (does quality-class depend on the crawl source?):
    * χ² = Σ_cells (o − e)²/e with e = row·col/n over the FULL r×c
    * grid (unobserved cells count with o = 0), dof = (r−1)(c−1),
    * V = √(χ²/(n·min(r−1, c−1))) (Cramér 1946) — the effect size the
    * raw statistic hides at corpus n. Degenerate single-category
    * sides refuse (independence is undefined). Nulls are the
    * `__null__` category. One row: (n, n_rows, n_cols, dof, chi2,
    * cramers_v), doubles rounded at 9. The p-value is deliberately
    * not emitted: there is no χ² CDF both engines evaluate
    * identically, and at corpus n the effect size is the decision
    * variable anyway.
    *
    * Scale shape: ONE (a, b) contingency hash aggregate; the grid
    * expansion and expected counts run over bounded marginal frames.
    */
  def chiSquareIndependence(df: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    val ct = df.select(
        coalesce(col(aCol).cast("string"), lit("__null__")).as("a"),
        coalesce(col(bCol).cast("string"), lit("__null__")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val margA = ct.groupBy("a").agg(sum("o").as("ra"))
    val margB = ct.groupBy("b").agg(sum("o").as("cb"))
    val shape = ct.agg(sum("o").as("n"),
      countDistinct("a").as("r"), countDistinct("b").as("c")).head()
    require(!shape.isNullAt(0), "chiSquareIndependence: empty frame")
    val (n, r, c) = (shape.getLong(0), shape.getLong(1), shape.getLong(2))
    require(r >= 2 && c >= 2,
      s"chiSquareIndependence: need >= 2 categories per side " +
        s"(saw $r x $c) — independence is undefined against a constant")
    val grid = margA.crossJoin(margB)
      .join(ct, Seq("a", "b"), "left")
      .select(col("ra"), col("cb"),
        coalesce(col("o"), lit(0L)).cast("double").as("o"))
    val chi2 = grid.select(
        ((col("o") - col("ra").cast("double") * col("cb") / n)
          * (col("o") - col("ra").cast("double") * col("cb") / n)
          / (col("ra").cast("double") * col("cb") / n)).as("cell"))
      .agg(sum("cell")).head().getDouble(0)
    val dof = (r - 1) * (c - 1)
    val v = math.sqrt(chi2 / (n.toDouble * math.min(r - 1, c - 1)))
    val spark = df.sparkSession
    import spark.implicits._
    def r9(x: Double) = Num.round9(x)
    Seq((n, r, c, dof, r9(chi2), r9(v)))
      .toDF("n", "n_rows", "n_cols", "dof", "chi2", "cramers_v")
  }

  /** Two-proportion pooled z-test (the A/B gate for filter changes:
    * did the new rule change the pass rate beyond noise?): for
    * exactly two groups with success indicator in {0, 1},
    * z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)) with p̂ the pooled
    * rate, groups ordered lexicographically so the sign is
    * deterministic. A pooled rate of exactly 0 or 1 means both
    * groups are identical constants — z reports 0 (no evidence of
    * difference, not a divide-by-zero). More or fewer than two
    * groups refuse. One row: (group_a, group_b, n_a, n_b, p_a, p_b,
    * z, p_value), doubles rounded at 9; every input to the z formula
    * is an exact integer ratio, so the oracle matches bit-for-bit;
    * p_value is the two-sided tail via the z² ~ χ²₁ identity and
    * [[Num.chi2P1]]'s SQL-replayable erfc fit.
    *
    * Scale shape: ONE group hash aggregate (2 rows), driver scalars.
    */
  def twoProportionZ(df: DataFrame, groupCol: String,
                     successCol: String): DataFrame = {
    val y = col(successCol).cast("double")
    // the census rides the ONE group aggregate (r18 hygiene fold) and
    // is read off the collected 2-row result before any count is used
    val g = df.select(
        coalesce(col(groupCol).cast("string"), lit("__null__")).as("g"),
        y.as("__y"),
        (y.isNull || (y =!= 0.0 && y =!= 1.0)).cast("long").as("__bad"))
      .groupBy("g").agg(count(lit(1)).as("n"), sum("__y").as("s"),
        sum("__bad").as("bad"))
      .orderBy("g").collect()
    require(g.map(_.getLong(3)).sum == 0,
      "twoProportionZ: success indicator must be in {0, 1}")
    require(g.length == 2,
      s"twoProportionZ: need exactly 2 groups, saw ${g.length}")
    val (ga, na, sa) = (g(0).getString(0), g(0).getLong(1),
      g(0).getDouble(2))
    val (gb, nb, sb) = (g(1).getString(0), g(1).getLong(1),
      g(1).getDouble(2))
    val (pa, pb) = (sa / na, sb / nb)
    val pool = (sa + sb) / (na + nb)
    val se = math.sqrt(pool * (1 - pool) * (1.0 / na + 1.0 / nb))
    val z = if (se > 0) (pa - pb) / se else 0.0
    // two-sided p via the χ²₁ identity (z² ~ χ²₁ under H0):
    // p = erfc(|z|/√2) = erfc(√(z²/2)) — the [[Num.chi2P1]] closed
    // form the SQL oracle replays
    val p = Num.chi2P1(z * z)
    val spark = df.sparkSession
    import spark.implicits._
    def r9(x: Double) = Num.round9(x)
    Seq((ga, gb, na, nb, r9(pa), r9(pb), r9(z), r9(p)))
      .toDF("group_a", "group_b", "n_a", "n_b", "p_a", "p_b", "z",
        "p_value")
  }

  /** Calibration report + expected calibration error (Naeini 2015's
    * ECE, the Guo 2017 formulation) for a probabilistic filter: scores
    * in [0, 1] bucket into `bins` fixed-width bins (score 1.0 joins
    * the top bin); each bin reports its count, mean score
    * (confidence), positive rate (accuracy), and |gap|; the summary
    * row `bin = -1` carries the corpus count, overall mean score,
    * overall positive rate, and ECE = Σ_b (n_b/N)·|acc_b − conf_b|.
    * A null/NaN/out-of-range score or a label outside {0, 1} refuses
    * loudly (silently clamping a miscalibrated-input bug into the
    * calibration measurement would be self-defeating). Empty bins are
    * absent, not zero-filled. Doubles round at 9.
    *
    * Scale shape: ONE bin hash aggregate over the corpus (bins tiny
    * rows) + one scalar aggregate for the summary; no window, no
    * second corpus pass.
    */
  def calibrationReport(scored: DataFrame, scoreCol: String,
                        labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"calibrationReport: bins=$bins")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("double")
    val badc = (s.isNull || isnan(s) || s < 0 || s > 1 ||
      y.isNull || (y =!= 0.0 && y =!= 1.0)).cast("long")
    // the census rides the ONE bin aggregate (r18 hygiene fold); the
    // refusal reads the checkpointed bins-many frame
    val perBin = scored.select(
        least(floor(s * bins), lit(bins - 1)).cast("int").as("bin"),
        s.as("s"), y.as("y"), badc.as("__bad"))
      .groupBy("bin").agg(count(lit(1)).as("n"),
        avg("s").as("conf"), avg("y").as("acc"), sum("__bad").as("nbad"))
      .localCheckpoint()
    val totalRow = perBin.agg(sum("n").as("nn"), sum("nbad").as("bad"))
      .head()
    val nBad = if (totalRow.isNullAt(1)) 0L else totalRow.getLong(1)
    require(nBad == 0,
      "calibrationReport: scores must be non-null in [0, 1] and labels " +
        "in {0, 1} — clean the frame first (a clamp here would fold an " +
        "input bug into the calibration measurement)")
    require(!totalRow.isNullAt(0), "calibrationReport: empty frame")
    val total = totalRow.getLong(0)
    val binsOut = perBin.select(col("bin"), col("n"),
      round(col("conf"), 9).as("confidence"),
      round(col("acc"), 9).as("accuracy"),
      round(abs(col("acc") - col("conf")), 9).as("gap"))
    val summary = perBin.agg(
        sum("n").as("n"),
        (sum(col("conf") * col("n")) / sum("n")).as("conf"),
        (sum(col("acc") * col("n")) / sum("n")).as("acc"),
        (sum(abs(col("acc") - col("conf")) * col("n")) / lit(total))
          .as("ece"))
      .select(lit(-1).as("bin"), col("n"),
        round(col("conf"), 9).as("confidence"),
        round(col("acc"), 9).as("accuracy"),
        round(col("ece"), 9).as("gap"))
    binsOut.unionByName(summary)
  }

  /** Proper scoring rules — log-loss and the Brier score with its
    * Murphy (1973) decomposition: [[rocAuc]] measures RANKING and
    * [[calibrationReport]]'s ECE measures CALIBRATION, but neither is
    * a proper score (a model can game either); log-loss (the training
    * objective itself) and Brier = mean (p − y)² are the two standard
    * proper rules every model-quality report carries. The
    * decomposition over the same `bins` partition the calibration
    * family uses: reliability = Σ n_b(p̄_b − ȳ_b)²/N (how far the
    * forecast sits from the outcome rate — lower is better),
    * resolution = Σ n_b(ȳ_b − ȳ)²/N (how much the forecast separates
    * outcomes — higher is better), uncertainty = ȳ(1 − ȳ) (the
    * no-skill floor). Brier = rel − res + unc holds EXACTLY when the
    * forecasts are discrete at the bin level (spec-pinned) and
    * approximately for continuous scores (the binning is then a
    * partition estimate — standard practice). log p is clamped at
    * `eps` (the sklearn convention; the literal is replayed by the
    * oracle). Score/label hygiene rides the ONE aggregate. One row:
    * (n, log_loss, brier, reliability, resolution, uncertainty),
    * doubles rounded at 9.
    *
    * Scale shape: ONE (bin) hash aggregate over the corpus carrying
    * every sum (log terms, squared errors, bin moments, census) —
    * bins-many tiny rows, then a scalar reduce; no join, no window.
    */
  def properScores(scored: DataFrame, scoreCol: String, labelCol: String,
                   bins: Int = 10, eps: Double = 1e-15): DataFrame = {
    require(bins >= 2, s"properScores: bins=$bins")
    require(eps > 0 && eps < 0.5, s"properScores: eps=$eps")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("double")
    val bad = (s.isNull || isnan(s) || s < 0 || s > 1 ||
      y.isNull || (y =!= 0.0 && y =!= 1.0)).cast("long")
    val pc = least(greatest(s, lit(eps)), lit(1.0 - eps))
    val ll = -(y * log(pc) + (lit(1.0) - y) * log(lit(1.0) - pc))
    val bin = least(floor(s * bins), lit(bins - 1)).cast("int")
    val per = scored
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"), sum(y).as("sy"), sum(s).as("sp"),
        sum((s - y) * (s - y)).as("sq"), sum(ll).as("sll"),
        sum(bad).as("__bad"))
      .localCheckpoint()
    require(per.head(1).nonEmpty, "properScores: empty frame")
    val badRow = per.agg(sum("__bad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    require(nBad == 0,
      "properScores: scores must be non-null in [0, 1] and labels in " +
        "{0, 1} — clean the frame first")
    // scalar reduce over the bins-many frame: ȳ via the totals, then
    // the Murphy terms from per-bin means — all exact integer/dyadic
    // ratios until the final divisions
    val tot = per.agg(sum("n").as("nn"), sum("sy").as("ty")).head()
    val n = tot.getLong(0); val ybar = tot.getDouble(1) / n
    val r = per.select(
        sum("sq").as("sq"), sum("sll").as("sll"),
        sum((col("sp") / col("n") - col("sy") / col("n")) *
          (col("sp") / col("n") - col("sy") / col("n")) * col("n"))
          .as("rel"),
        sum((col("sy") / col("n") - lit(ybar)) *
          (col("sy") / col("n") - lit(ybar)) * col("n")).as("res"))
      .head()
    val spark = scored.sparkSession
    import spark.implicits._
    Seq((n, Num.round9(r.getDouble(1) / n), Num.round9(r.getDouble(0) / n),
      Num.round9(r.getDouble(2) / n), Num.round9(r.getDouble(3) / n),
      Num.round9(ybar * (1.0 - ybar))))
      .toDF("n", "log_loss", "brier", "reliability", "resolution",
        "uncertainty")
  }

  /** Multiclass proper scoring rules — [[properScores]] for the
    * label-indexed probability-vector outputs LLM evaluation actually
    * produces (choice tasks, next-token heads, K-way quality tiers):
    * multiclass log-loss −ln p_y (the training objective), the vector
    * Brier score Σ_k (p_k − 1{y=k})² (Brier 1950's original K-class
    * form), and the PER-CLASS Murphy (1973) decomposition — each class
    * k is a one-vs-rest forecast p_k of outcome 1{y=k}, binned over
    * the same `bins` partition the calibration family uses, giving
    * class-level reliability/resolution/uncertainty that SUM to the
    * vector Brier's decomposition (Brier_k = rel_k − res_k + unc_k
    * holds exactly for bin-discrete forecasts, spec-pinned, and the
    * identity survives the sum).
    *
    * One row per class: (cls, n = class support, log_loss = the mean
    * −ln p_y over rows WHOSE TRUE CLASS IS k — the per-class NLL, 0.0
    * for an unsupported class, support-weighted mean = the total;
    * brier/reliability/resolution/uncertainty = class k's one-vs-rest
    * components over ALL rows) plus the summary row cls = −1 carrying
    * the corpus totals (n = N, log_loss = mean −ln p_y, brier/rel/
    * res/unc = the class sums). Doubles rounded at 9; ln is clamped
    * at `eps` ([[properScores]]' sklearn convention).
    *
    * Hygiene (riding the one aggregate): null vectors, null/NaN/
    * out-of-[0,1] probabilities, null labels or labels outside
    * [0, K), and RAGGED vectors (rows disagreeing on K) all refuse.
    * Probabilities are deliberately NOT required to sum to 1 — proper
    * scores are defined pointwise and a sum-tolerance would be an
    * engine-divergence surface; feed normalized vectors.
    *
    * Scale shape: one Generate (posexplode of the K-vector — a
    * bounded K-fold expansion consumed by the map-side partial
    * aggregate, never shuffled raw) into ONE (cls, bin) hash
    * aggregate — K·bins tiny rows, checkpointed; the per-class frame
    * and the summary fold from it with no further corpus pass.
    *
    * K-REGIME CONTRACT: the posexplode plan multiplies the scan by K,
    * which is the RIGHT plan for classifier-scale K (choice tasks,
    * quality tiers, K ≤ ~10³ — the expansion feeds the map-side
    * partial combine and never hits the shuffle) and the WRONG plan
    * for next-token-scale K (K ≈ 10⁵ turns a 100 TB scan into 10 PB of
    * generated rows; that regime needs an in-kernel vector fold —
    * aggregate over the array without exploding — which this operator
    * deliberately does not pretend to be). `maxClasses` enforces the
    * contract: K above it refuses (the [[krippendorffAlphaRatio]]
    * maxDistinct convention), read from the SAME guard aggregate that
    * already carries the ragged-K census.
    */
  def properScoresMulticlass(scored: DataFrame, probsCol: String,
                             labelCol: String, bins: Int = 10,
                             eps: Double = 1e-15,
                             maxClasses: Int = 1024): DataFrame = {
    require(bins >= 2, s"properScoresMulticlass: bins=$bins")
    require(eps > 0 && eps < 0.5, s"properScoresMulticlass: eps=$eps")
    require(maxClasses >= 2,
      s"properScoresMulticlass: maxClasses=$maxClasses")
    val probs = col(probsCol)
    val y = col(labelCol).cast("int")
    val k = size(probs)
    // the integrality clause catches a 2.7 label that cast("int")
    // would silently truncate into class 2
    val badRow = (probs.isNull || y.isNull || y < 0 || y >= k ||
      col(labelCol).cast("double") =!= y.cast("double") ||
      exists(probs, p => p.isNull || isnan(p) || p < 0.0 || p > 1.0))
      .cast("long")
    // posexplode_OUTER: a zero-length (non-null) vector would emit no
    // rows under plain posexplode and silently vanish from the census,
    // N, and every statistic — outer keeps one null-element row whose
    // __bad flag (y >= K with K = 0) carries the refusal
    val ex = scored.select(y.as("__y"), k.as("__k"),
        badRow.as("__bad"), posexplode_outer(coalesce(probs,
          typedlit(Seq(0.0)))))
      .withColumnRenamed("pos", "__cls").withColumnRenamed("col", "__p")
    val p = col("__p")
    val ind = (col("__cls") === col("__y")).cast("double")
    val pc = least(greatest(p, lit(eps)), lit(1.0 - eps))
    val bin = least(floor(p * bins), lit(bins - 1)).cast("int")
    val per = ex.groupBy(col("__cls").as("cls"), bin.as("bin"))
      .agg(count(lit(1)).as("n"), sum(ind).as("sy"), sum(p).as("sp"),
        sum((p - ind) * (p - ind)).as("sq"),
        sum(when(ind === 1.0, -log(pc)).otherwise(lit(0.0))).as("sll"),
        sum(col("__bad")).as("__nbad"),
        min("__k").as("__klo"), max("__k").as("__khi"))
      .localCheckpoint()
    val guard = per.agg(sum("__nbad").as("bad"), min("__klo").as("klo"),
      max("__khi").as("khi")).head()
    val nBad = if (guard.isNullAt(0)) 0L else guard.getLong(0)
    require(nBad == 0,
      "properScoresMulticlass: probability vectors must be non-null " +
        "with every entry in [0, 1] and labels integers in [0, K) — " +
        "clean the frame first")
    require(!guard.isNullAt(1), "properScoresMulticlass: empty frame")
    require(guard.getInt(1) == guard.getInt(2),
      s"properScoresMulticlass: ragged probability vectors (K spans " +
        s"${guard.getInt(1)}..${guard.getInt(2)}) — every row must " +
        "score the same class set")
    require(guard.getInt(2) <= maxClasses,
      s"properScoresMulticlass: K=${guard.getInt(2)} classes exceed " +
        s"maxClasses=$maxClasses — the posexplode plan costs K·rows " +
        "generated rows and is meant for classifier-scale K, not " +
        "next-token vocabularies; reduce K or raise maxClasses " +
        "knowing the multiplier")
    // per-class fold over the K·bins frame: support, NLL, Brier
    // component, and the Murphy terms from per-bin means — the
    // resolution folds via Σ_b sy²/n − N·ȳ_k² so ȳ_k never needs a
    // second pass
    val perClass = per.groupBy("cls").agg(
        sum("n").as("nall"), sum("sy").as("ntrue"), sum("sll").as("ll"),
        sum("sq").as("sq"),
        sum((col("sp") / col("n") - col("sy") / col("n")) *
          (col("sp") / col("n") - col("sy") / col("n")) * col("n"))
          .as("rel"),
        sum(col("sy") * col("sy") / col("n")).as("resraw"))
      .localCheckpoint()
    val nAll = col("nall").cast("double")
    val ybar = col("ntrue") / nAll
    val classRows = perClass.select(col("cls"),
      col("ntrue").cast("long").as("n"),
      round(when(col("ntrue") > 0, col("ll") / col("ntrue"))
        .otherwise(lit(0.0)), 9).as("log_loss"),
      round(col("sq") / nAll, 9).as("brier"),
      round(col("rel") / nAll, 9).as("reliability"),
      round((col("resraw") - col("ntrue") * col("ntrue") / nAll) / nAll, 9)
        .as("resolution"),
      round(ybar * (lit(1.0) - ybar), 9).as("uncertainty"))
    val summary = perClass.agg(
        max("nall").as("nn"), sum("ll").as("ll"), sum("sq").as("sq"),
        sum("rel").as("rel"),
        sum(col("resraw") - col("ntrue") * col("ntrue")
          / col("nall").cast("double")).as("res"),
        sum((col("ntrue") / col("nall").cast("double")) *
          (lit(1.0) - col("ntrue") / col("nall").cast("double")))
          .as("unc"))
      .select(lit(-1).as("cls"), col("nn").cast("long").as("n"),
        round(col("ll") / col("nn").cast("double"), 9).as("log_loss"),
        round(col("sq") / col("nn").cast("double"), 9).as("brier"),
        round(col("rel") / col("nn").cast("double"), 9).as("reliability"),
        round(col("res") / col("nn").cast("double"), 9).as("resolution"),
        round(col("unc"), 9).as("uncertainty"))
    classRows.unionByName(summary)
  }

  /** McNemar's test (McNemar 1947, the Edwards continuity-corrected
    * form) for PAIRED classifier comparison — the A/B question every
    * eval run ends with ("is model B actually better than model A on
    * this holdout, or is the accuracy delta discordant-pair noise?"):
    * over rows scored by BOTH models, b = A-correct/B-wrong and
    * c = A-wrong/B-correct discordant counts give
    * χ² = (|b − c| − 1)² / (b + c) on 1 df (concordant pairs carry no
    * information — that is the test's point vs comparing raw
    * accuracies). b + c = 0 (models never disagree) reports 0.
    * Correctness is null-safe string equality (a null prediction
    * against a non-null label scores wrong — the [[sliceAccuracy]]
    * convention); null LABELS refuse. One row: (n, acc_a, acc_b,
    * b_discordant, c_discordant, statistic, p_value) — all
    * exact-integer ratios/counts, statistic one closed form of them,
    * p_value the χ²₁ upper tail via [[Num.chi2P1]] (the NR erfc fit
    * both engines evaluate identically), doubles rounded at 9.
    *
    * Scale shape: ONE scalar hash aggregate over the corpus (the
    * null-label census rides it); no join, no window.
    */
  /** The ONE aggregate behind [[mcnemarTest]] — n, null-label census,
    * per-model correct counts, both discordant counts — exposed so the
    * plan audit pins the one-pass/no-join claim on the real aggregate,
    * not a replica (the [[bootstrapAggregate]] convention). */
  /** The six McNemar aggregate columns — n, null-label census,
    * per-model correct counts, both discordant counts — as ONE shared
    * definition consumed by the scalar [[mcnemarAggregate]] AND the
    * windowed monitor (`EventStream.windowedAb` groups the same
    * expressions by window), so the "identical semantics per window"
    * contract has one source of truth instead of two drifting copies.
    */
  private[graft] def mcnemarAggExprs(labelCol: String, predACol: String,
      predBCol: String): Seq[Column] = {
    val okA = (col(labelCol).cast("string") <=> col(predACol).cast("string"))
    val okB = (col(labelCol).cast("string") <=> col(predBCol).cast("string"))
    Seq(
      count(lit(1)).as("n"),
      sum(col(labelCol).isNull.cast("long")).as("nulls"),
      sum(okA.cast("long")).as("ca"),
      sum(okB.cast("long")).as("cb"),
      sum((okA && !okB).cast("long")).as("b"),
      sum((!okA && okB).cast("long")).as("c"))
  }

  private[graft] def mcnemarAggregate(scored: DataFrame, labelCol: String,
      predACol: String, predBCol: String): DataFrame = {
    val e = mcnemarAggExprs(labelCol, predACol, predBCol)
    scored.agg(e.head, e.tail: _*)
  }

  /** The accuracy/statistic/p fold over the six [[mcnemarAggExprs]]
    * counts — ONE closed form shared by [[mcnemarTest]] and
    * [[abReport]] (the [[deLongStats]] discipline: a second copy of
    * the Edwards correction would be a bit-parity drift surface).
    * Returns (acc_a, acc_b, statistic, p_value), unrounded. */
  private def mcnemarStats(n: Long, ca: Long, cb: Long, b: Long,
      c: Long): (Double, Double, Double, Double) = {
    val stat = if (b + c == 0) 0.0
      else { val d = math.abs(b - c) - 1.0; d * d / (b + c) }
    (ca.toDouble / n, cb.toDouble / n, stat, Num.chi2P1(stat))
  }

  def mcnemarTest(scored: DataFrame, labelCol: String,
                  predACol: String, predBCol: String): DataFrame = {
    val row = mcnemarAggregate(scored, labelCol, predACol, predBCol).head()
    require(!row.isNullAt(0) && row.getLong(0) > 0,
      "mcnemarTest: empty frame")
    require(row.getLong(1) == 0,
      s"mcnemarTest: ${row.getLong(1)} null $labelCol values — a null " +
        "label is un-scorable ground truth; clean the frame first")
    val (n, ca, cb, b, c) = (row.getLong(0), row.getLong(2),
      row.getLong(3), row.getLong(4), row.getLong(5))
    val (accA, accB, stat, p) = mcnemarStats(n, ca, cb, b, c)
    val spark = scored.sparkSession
    import spark.implicits._
    Seq((n, Num.round9(accA), Num.round9(accB),
      b, c, Num.round9(stat), Num.round9(p)))
      .toDF("n", "acc_a", "acc_b", "b_discordant", "c_discordant",
        "statistic", "p_value")
  }

  /** Paired NON-INFERIORITY test on accuracy — the ship question
    * [[mcnemarTest]] does not answer: McNemar asks "is there ANY
    * difference?", but a model swap usually ships on "is the candidate
    * not WORSE than the incumbent by more than a margin δ" (superiority
    * is a bonus; a p = 0.3 McNemar is NOT evidence of non-inferiority —
    * absence of evidence). One-sided test of
    * H₀: acc_b − acc_a ≤ −δ vs H₁: acc_b − acc_a > −δ on the SAME
    * holdout: the paired delta is (c − b)/n over the discordant counts,
    * its Wald standard error √(b + c − (b−c)²/n) / n (the paired-
    * proportion-difference SE — concordant pairs cancel exactly as in
    * McNemar), z = (delta + δ)/SE, one-sided upper p via the
    * [[Num.erfcc]] closed form both engines replay (negative z
    * reflects: p = 1 − erfc(−z/√2)/2). No discordants at all (b = c =
    * 0, SE = 0) means the models are interchangeable on this holdout —
    * p = 0 by convention (δ > 0 makes H₁ true with certainty). Null
    * labels refuse via the riding census. One row: (n, acc_a, acc_b,
    * delta, margin, se, z, p_value, non_inferior = p < alpha), doubles
    * rounded at 9.
    *
    * Scale shape: ONE scalar hash aggregate — the single-sourced
    * [[mcnemarAggExprs]] columns; O(1) driver arithmetic.
    */
  def nonInferiorityTest(scored: DataFrame, labelCol: String,
                         predACol: String, predBCol: String,
                         margin: Double, alpha: Double = 0.05): DataFrame = {
    require(margin > 0, s"nonInferiorityTest: margin=$margin must be " +
      "positive — a zero margin is a superiority test; use mcnemarTest")
    require(alpha > 0 && alpha < 0.5, s"nonInferiorityTest: alpha=$alpha")
    val row = mcnemarAggregate(scored, labelCol, predACol, predBCol).head()
    require(!row.isNullAt(0) && row.getLong(0) > 0,
      "nonInferiorityTest: empty frame")
    require(row.getLong(1) == 0,
      s"nonInferiorityTest: ${row.getLong(1)} null $labelCol values — " +
        "a null label is un-scorable ground truth; clean the frame first")
    val (n, ca, cb, b, c) = (row.getLong(0), row.getLong(2),
      row.getLong(3), row.getLong(4), row.getLong(5))
    val delta = (c - b).toDouble / n
    val se = math.sqrt(math.max(0.0,
      (b + c) - (b - c).toDouble * (b - c) / n)) / n
    val (z, p) =
      if (se <= 0.0) (0.0, if (delta + margin > 0) 0.0 else 1.0)
      else {
        val z0 = (delta + margin) / se
        val p0 =
          if (z0 >= 0) math.min(1.0, Num.erfcc(z0 / math.sqrt(2.0)) / 2.0)
          else 1.0 - math.min(1.0, Num.erfcc(-z0 / math.sqrt(2.0)) / 2.0)
        (z0, p0)
      }
    val spark = scored.sparkSession
    import spark.implicits._
    Seq((n, Num.round9(ca.toDouble / n), Num.round9(cb.toDouble / n),
      Num.round9(delta), margin, Num.round9(se), Num.round9(z),
      Num.round9(p), Num.round9(p) < alpha))
      .toDF("n", "acc_a", "acc_b", "delta", "margin", "se", "z",
        "p_value", "non_inferior")
  }

  /** Off-policy evaluation of a candidate policy from LOGGED traffic
    * (Horvitz & Thompson 1952 inverse-propensity scoring; the clipped
    * and self-normalized forms of Swaminathan & Joachims 2015) — the
    * eval that answers "what reward would the NEW router/model-choice
    * policy have earned on last month's traffic?" without deploying
    * it: each logged row carries the observed reward, the probability
    * the LOGGING policy gave the action it took (`loggedPropCol`), and
    * the probability the CANDIDATE policy gives that same action
    * (`targetPropCol`). The importance weight w = p_target / p_logged
    * is clipped at `clip` (the standard bias-variance knob; the
    * clipped fraction is reported, not hidden), giving
    * ips = Σ w·r / n (unbiased under full support, high variance) and
    * snips = Σ w·r / Σ w (self-normalized — biased O(1/n), much
    * tighter, the practical default). `ess` = (Σw)²/Σw² is the
    * effective sample size — the honesty diagnostic: an ESS of 40 on a
    * million rows says the logs barely cover the candidate policy and
    * BOTH estimates are built on ~40 rows. Every estimate ships with
    * its STANDARD ERROR and 95% CI (a ship/no-ship call needs the
    * uncertainty, not the point): se(ips) is the sample-variance SE of
    * the per-row term x = w·r via the two-pass-free identity
    * (Σx² − (Σx)²/n)/(n−1) — the sums ride the same aggregate — and
    * se(snips) is the delta-method / influence-function SE
    * √(Σ w²(r − snips)²) / Σw, expanded to Σ(wr)² − 2·snips·Σw²r +
    * snips²·Σw² so it too folds from the one pass. CIs are
    * estimate ± z·se with the fixed z = 1.959964 literal (the
    * [[rocAucCI]] single-sourced [[Z95]]). Hygiene rides the ONE
    * aggregate: null/NaN rewards, propensities outside (0, 1] on the
    * logging side or [0, 1] on the target side refuse. One row:
    * (n, behavior_mean, ips, ips_se, ips_lo, ips_hi, snips, snips_se,
    * snips_lo, snips_hi, ess, clipped_frac), doubles rounded at 9.
    *
    * Scale shape: ONE scalar hash aggregate over the log — every
    * estimate AND every variance folds from the same eight sums; no
    * join, no window, no second pass.
    *
    * SCHEMA NOTE (r19 break, kept deliberately): the SE/CI columns sit
    * NEXT TO the estimate they qualify (ips, ips_se, ips_lo, ips_hi,
    * snips, …) rather than appended at the tail, so a report reads
    * left-to-right — which moved the ordinal position of every column
    * after `ips`. Read this frame BY NAME (`row.getAs[Double]("ess")`),
    * never by position; the same applies to [[doublyRobustEval]] and
    * the per-slice/windowed forms that share these output columns.
    */
  /** The shared importance-weight construction of [[offPolicyEval]]
    * and [[doublyRobustEval]] — the reward/propensity census (logging
    * in (0, 1], target in [0, 1]), the GUARDED ratio (under ANSI SQL
    * a pb = 0 row would kill the whole job with a divide-by-zero
    * before the refusal could fire; the bad row contributes null,
    * sum-skipped, and the riding census reports it), and its clip —
    * ONE source so the two estimators cannot drift (the
    * [[mcnemarAggExprs]] discipline). Returns (bad, w, w_clipped). */
  private def opeWeights(r: Column, pb: Column, pt: Column,
      clip: Double): (Column, Column, Column) = {
    val bad = r.isNull || isnan(r) ||
      pb.isNull || isnan(pb) || pb <= 0.0 || pb > 1.0 ||
      pt.isNull || isnan(pt) || pt < 0.0 || pt > 1.0
    val w = when(pb > 0.0, pt / pb)
    (bad, w, least(w, lit(clip)))
  }

  def offPolicyEval(logged: DataFrame, rewardCol: String,
                    loggedPropCol: String, targetPropCol: String,
                    clip: Double = 10.0): DataFrame = {
    require(clip > 0, s"offPolicyEval: clip=$clip must be positive")
    // the SAME aggregate columns and output formulas as the per-slice
    // and streaming forms ([[opeAggExprs]]/[[opeStatCols]]) — one
    // source, so the four surfaces cannot drift; the checkpoint keeps
    // this a single corpus pass (guard read + output both hit the
    // one-row checkpoint)
    val e = opeAggExprs(rewardCol, loggedPropCol, targetPropCol, clip)
    val agg = logged.agg(e.head, e.tail: _*).localCheckpoint()
    val g = agg.head()
    val nBad = if (g.isNullAt(1)) 0L else g.getLong(1)
    require(nBad == 0,
      "offPolicyEval: rewards must be non-null/non-NaN, logging " +
        "propensities in (0, 1], target probabilities in [0, 1] — " +
        "clean the log first")
    require(g.getLong(0) > 0, "offPolicyEval: empty log")
    agg.select(opeStatCols: _*)
  }

  /** Doubly-robust off-policy evaluation (Dudík, Langford & Li 2011)
    * — the third member of the standard OPE trio with
    * [[offPolicyEval]]'s IPS/SNIPS: combine a learned reward model
    * (the direct method) with the importance-weighted correction,
    * DR = (1/n) Σ [ v̂(x) + w·(r − q̂(x, a_logged)) ] where
    * q̂ (`qHatCol`) is the model's predicted reward for the action the
    * LOG took and v̂ (`vHatCol`) is the model's expected reward under
    * the CANDIDATE policy at that context (Σ_a π_target(a|x)·q̂(x,a),
    * caller-computed — actions are not enumerated here). Unbiased if
    * EITHER the propensities or the reward model is right (that is
    * the "doubly"), and the correction term shrinks with the model's
    * residual, so DR's variance beats raw IPS whenever q̂ is any good.
    * Two spec-pinned anchors: a PERFECT reward model (q̂ ≡ r) makes
    * the correction vanish — DR = mean(v̂) exactly, propensities
    * irrelevant; a ZERO model (q̂ ≡ v̂ ≡ 0) degrades DR to exactly
    * [[offPolicyEval]]'s ips. The importance weight is clipped at
    * `clip` (guarded division — the [[offPolicyEval]] ANSI
    * convention) and the clipped fraction reported. Both IPS and DR
    * ship with influence-function standard errors and 95% CIs (the
    * [[offPolicyEval]] convention): each is the sample-variance SE of
    * its per-row term — x = w·r for IPS, x = v̂ + w·(r − q̂) for DR —
    * via the two-pass-free identity (Σx² − (Σx)²/n)/(n−1), the squared
    * sums riding the same aggregate; CIs at the fixed z = [[Z95]].
    * A DR CI visibly TIGHTER than the IPS CI is the whole point of
    * carrying the reward model. Hygiene (null/NaN rewards or model
    * columns, propensities out of range) rides the ONE aggregate. One
    * row: (n, behavior_mean, dm, ips, ips_se, ips_lo, ips_hi, dr,
    * dr_se, dr_lo, dr_hi, ess, clipped_frac), doubles rounded at 9.
    *
    * Scale shape: ONE scalar hash aggregate over the log — the
    * [[offPolicyEval]] plan with the DR sums riding as extra columns.
    */
  def doublyRobustEval(logged: DataFrame, rewardCol: String,
                       loggedPropCol: String, targetPropCol: String,
                       qHatCol: String, vHatCol: String,
                       clip: Double = 10.0): DataFrame = {
    require(clip > 0, s"doublyRobustEval: clip=$clip must be positive")
    val qh = col(qHatCol).cast("double")
    val vh = col(vHatCol).cast("double")
    val (_, _, wc) = opeWeights(col(rewardCol).cast("double"),
      col(loggedPropCol).cast("double"),
      col(targetPropCol).cast("double"), clip)
    // the shared aggregate ([[opeAggExprs]] with the q̂/v̂ census
    // riding as extraBad) + the DR sums ([[drAggExtras]]) + the
    // shared output formulas ([[drStatCols]]) — one source with the
    // per-slice form; the checkpoint keeps it one corpus pass
    val extraBad = qh.isNull || isnan(qh) || vh.isNull || isnan(vh)
    val e = opeAggExprs(rewardCol, loggedPropCol, targetPropCol, clip,
      extraBad) ++ drAggExtras(rewardCol, qHatCol, vHatCol, wc)
    val agg = logged.agg(e.head, e.tail: _*).localCheckpoint()
    val g = agg.head()
    val nBad = if (g.isNullAt(1)) 0L else g.getLong(1)
    require(nBad == 0,
      "doublyRobustEval: rewards/q-hat/v-hat must be non-null/non-NaN, " +
        "logging propensities in (0, 1], target probabilities in " +
        "[0, 1] — clean the log first")
    require(g.getLong(0) > 0, "doublyRobustEval: empty log")
    agg.select(drStatCols: _*)
  }

  /** Per-slice off-policy evaluation — [[offPolicyEval]] grouped by a
    * slice column, because the routing question is almost always
    * sliced: a candidate policy that wins OVERALL can lose on code
    * traffic (Simpson-style reversals are the norm when the logging
    * policy's coverage differs by slice), and the per-slice `ess` is
    * the honesty diagnostic that matters MOST here — support collapses
    * slice-first, and a slice whose ESS is 12 has no usable estimate
    * no matter how confident the pooled number looks. Same
    * [[opeWeights]] construction, same clipped IPS / SNIPS estimators,
    * same influence-function SEs and 95% CIs per slice ([[Z95]]).
    * Hygiene rides the ONE aggregate (summed across slices in the
    * guard read over the checkpointed per-slice frame). One row per
    * slice: (slice, n, behavior_mean, ips, ips_se, ips_lo, ips_hi,
    * snips, snips_se, snips_lo, snips_hi, ess, clipped_frac), doubles
    * rounded at 9; a null slice groups as its own row (null traffic is
    * still traffic).
    *
    * Scale shape: ONE (slice) hash aggregate over the log; the output
    * is slices-many tiny rows computed as column arithmetic on the
    * checkpointed aggregate (never collected — driver state is the
    * one guard row), so slice cardinality is bounded only by what the
    * caller can store.
    */
  /** The grouped-OPE aggregate columns (n, census, and the seven sums
    * every estimate/SE folds from) — ONE source for
    * [[offPolicyEvalBySlice]] and the streaming
    * [[graft.streaming.EventStream.windowedOffPolicy]] monitor (the
    * [[mcnemarAggExprs]] discipline: the batch and streaming forms
    * cannot drift). */
  private[graft] def opeAggExprs(rewardCol: String,
      loggedPropCol: String, targetPropCol: String, clip: Double,
      extraBad: Column = lit(false)): Seq[Column] = {
    val r = col(rewardCol).cast("double")
    val pb = col(loggedPropCol).cast("double")
    val pt = col(targetPropCol).cast("double")
    val (badBase, w, wc) = opeWeights(r, pb, pt, clip)
    Seq(count(lit(1)).as("n"),
      sum((badBase || extraBad).cast("long")).as("__nbad"),
      sum(r).as("sr"), sum(wc * r).as("swr"), sum(wc).as("sw"),
      sum(wc * wc).as("sww"),
      sum((wc * r) * (wc * r)).as("swr2"),
      sum(wc * wc * r).as("swwr"),
      sum((w > clip).cast("long")).as("nclip"))
  }

  /** Mean + sample-variance SE of a per-row estimator term from its
    * sum and sum-of-squares columns — the two-pass-free identity
    * (Σx² − (Σx)²/n)/(n−1), THE single source for every OPE
    * mean-of-terms estimator (ips, dr). */
  private[graft] def opeMeanSe(sumCol: String,
      sum2Col: String): (Column, Column) = {
    val nd = col("n").cast("double")
    val m = col(sumCol) / nd
    val se = when(col("n") > 1,
      sqrt(greatest(lit(0.0),
        (col(sum2Col) - col(sumCol) * col(sumCol) / nd)
          / (nd - lit(1.0))) / nd)).otherwise(lit(0.0))
    (m, se)
  }

  /** The per-group OPE output columns (estimates, influence-function
    * SEs, CIs, ESS, clipped fraction) as column arithmetic over the
    * [[opeAggExprs]] sums — the [[offPolicyEval]] formulas operand for
    * operand; single-sourced with the aggregate for the same reason. */
  private[graft] def opeStatCols: Seq[Column] = {
    val nd = col("n").cast("double")
    val (ips, ipsSe) = opeMeanSe("swr", "swr2")
    val snips = when(col("sw") > 0, col("swr") / col("sw"))
      .otherwise(lit(0.0))
    val ess = when(col("sww") > 0, col("sw") * col("sw") / col("sww"))
      .otherwise(lit(0.0))
    val snipsSe = when(col("sw") > 0 && col("n") > 1,
      sqrt(greatest(lit(0.0),
        col("swr2") - lit(2.0) * snips * col("swwr") +
          snips * snips * col("sww"))) / col("sw"))
      .otherwise(lit(0.0))
    Seq(col("n"),
      round(col("sr") / nd, 9).as("behavior_mean"),
      round(ips, 9).as("ips"), round(ipsSe, 9).as("ips_se"),
      round(ips - lit(Z95) * ipsSe, 9).as("ips_lo"),
      round(ips + lit(Z95) * ipsSe, 9).as("ips_hi"),
      round(snips, 9).as("snips"), round(snipsSe, 9).as("snips_se"),
      round(snips - lit(Z95) * snipsSe, 9).as("snips_lo"),
      round(snips + lit(Z95) * snipsSe, 9).as("snips_hi"),
      round(ess, 9).as("ess"),
      round(col("nclip").cast("double") / nd, 9).as("clipped_frac"))
  }

  /** The doubly-robust output columns over [[opeAggExprs]] + the DR
    * extras (sv, sdr, sdr2) — shared by the scalar
    * [[doublyRobustEval]] and [[doublyRobustEvalBySlice]]. */
  private[graft] def drStatCols: Seq[Column] = {
    val nd = col("n").cast("double")
    val (ips, ipsSe) = opeMeanSe("swr", "swr2")
    val (dr, drSe) = opeMeanSe("sdr", "sdr2")
    val ess = when(col("sww") > 0, col("sw") * col("sw") / col("sww"))
      .otherwise(lit(0.0))
    Seq(col("n"),
      round(col("sr") / nd, 9).as("behavior_mean"),
      round(col("sv") / nd, 9).as("dm"),
      round(ips, 9).as("ips"), round(ipsSe, 9).as("ips_se"),
      round(ips - lit(Z95) * ipsSe, 9).as("ips_lo"),
      round(ips + lit(Z95) * ipsSe, 9).as("ips_hi"),
      round(dr, 9).as("dr"), round(drSe, 9).as("dr_se"),
      round(dr - lit(Z95) * drSe, 9).as("dr_lo"),
      round(dr + lit(Z95) * drSe, 9).as("dr_hi"),
      round(ess, 9).as("ess"),
      round(col("nclip").cast("double") / nd, 9).as("clipped_frac"))
  }

  /** The DR aggregate extras riding next to [[opeAggExprs]] — one
    * source for the scalar and per-slice forms. */
  private[graft] def drAggExtras(rewardCol: String, qHatCol: String,
      vHatCol: String, wc: Column): Seq[Column] = {
    val r = col(rewardCol).cast("double")
    val qh = col(qHatCol).cast("double")
    val vh = col(vHatCol).cast("double")
    val xdr = vh + wc * (r - qh)
    Seq(sum(vh).as("sv"), sum(xdr).as("sdr"),
      sum(xdr * xdr).as("sdr2"))
  }

  def offPolicyEvalBySlice(logged: DataFrame, rewardCol: String,
                           loggedPropCol: String, targetPropCol: String,
                           sliceCol: String,
                           clip: Double = 10.0): DataFrame = {
    require(clip > 0, s"offPolicyEvalBySlice: clip=$clip must be positive")
    val e = opeAggExprs(rewardCol, loggedPropCol, targetPropCol, clip)
    val per = logged.groupBy(col(sliceCol).as("slice"))
      .agg(e.head, e.tail: _*)
      .localCheckpoint()
    val guard = per.agg(count(lit(1)).as("rows"),
      sum("__nbad").as("bad")).head()
    require(guard.getLong(0) > 0, "offPolicyEvalBySlice: empty log")
    val nBad = if (guard.isNullAt(1)) 0L else guard.getLong(1)
    require(nBad == 0,
      s"offPolicyEvalBySlice: $nBad rows with null/NaN rewards or " +
        "propensities outside (0, 1] logging / [0, 1] target — clean " +
        "the log first")
    // the offPolicyEval formulas as column arithmetic, operand for
    // operand — the oracle replays the identical expressions per slice
    per.select(col("slice") +: opeStatCols: _*)
  }

  /** Per-slice doubly-robust off-policy evaluation — completing the
    * slice × estimator matrix ([[offPolicyEvalBySlice]] covers
    * IPS/SNIPS): the reward-model correction matters MOST on exactly
    * the slices where it is most dangerous to trust — low-ESS slices
    * lean hardest on q̂, and a per-slice DR column next to the
    * per-slice IPS column shows where the two disagree (a disagreement
    * is a model-or-support problem localized to that slice). Same
    * [[opeWeights]] construction, same sample-variance SEs and 95% CIs
    * as [[doublyRobustEval]], grouped by slice. One row per slice:
    * (slice, n, behavior_mean, dm, ips, ips_se, ips_lo, ips_hi, dr,
    * dr_se, dr_lo, dr_hi, ess, clipped_frac), doubles rounded at 9.
    *
    * Scale shape: ONE (slice) hash aggregate; output is column
    * arithmetic on the checkpointed per-slice rows (the
    * [[offPolicyEvalBySlice]] shape with the DR sums riding).
    */
  def doublyRobustEvalBySlice(logged: DataFrame, rewardCol: String,
                              loggedPropCol: String,
                              targetPropCol: String, qHatCol: String,
                              vHatCol: String, sliceCol: String,
                              clip: Double = 10.0): DataFrame = {
    require(clip > 0,
      s"doublyRobustEvalBySlice: clip=$clip must be positive")
    val qh = col(qHatCol).cast("double")
    val vh = col(vHatCol).cast("double")
    val (_, _, wc) = opeWeights(col(rewardCol).cast("double"),
      col(loggedPropCol).cast("double"),
      col(targetPropCol).cast("double"), clip)
    // the scalar op's aggregate and output columns, grouped by slice
    // — [[opeAggExprs]]/[[drAggExtras]]/[[drStatCols]], one source
    val extraBad = qh.isNull || isnan(qh) || vh.isNull || isnan(vh)
    val e = opeAggExprs(rewardCol, loggedPropCol, targetPropCol, clip,
      extraBad) ++ drAggExtras(rewardCol, qHatCol, vHatCol, wc)
    val per = logged.groupBy(col(sliceCol).as("slice"))
      .agg(e.head, e.tail: _*)
      .localCheckpoint()
    val guard = per.agg(count(lit(1)).as("rows"),
      sum("__nbad").as("bad")).head()
    require(guard.getLong(0) > 0, "doublyRobustEvalBySlice: empty log")
    val nBad = if (guard.isNullAt(1)) 0L else guard.getLong(1)
    require(nBad == 0,
      s"doublyRobustEvalBySlice: $nBad rows with null/NaN rewards or " +
        "model columns, or propensities outside (0, 1] logging / " +
        "[0, 1] target — clean the log first")
    per.select(col("slice") +: drStatCols: _*)
  }

  /** The per-(arm, unit) CUPED pre-aggregate for UNIT-randomized
    * experiments: unit totals y_u = Σy, x_u = Σx with row-level
    * hygiene PROPAGATED as NaN poison (a bad row makes its unit's
    * sums NaN — sum-skipping a null silently corrupts the unit total,
    * so the badness must survive the fold; the downstream
    * [[cupedAggExprs]] census then counts the poisoned unit and the
    * refusal fires with zero extra scans). ONE source for the batch
    * and windowed unit paths. */
  private[graft] def cupedUnitExprs(metricCol: String,
      covariateCol: String): Seq[Column] = {
    val y = col(metricCol).cast("double")
    val x = col(covariateCol).cast("double")
    val bad = y.isNull || isnan(y) || x.isNull || isnan(x)
    Seq(sum(when(bad, lit(Double.NaN)).otherwise(y)).as("__uy"),
      sum(when(bad, lit(Double.NaN)).otherwise(x)).as("__ux"))
  }

  /** The CUPED per-arm power-sum aggregate (count, census, six sums)
    * — ONE source for [[cupedDelta]] and the streaming
    * [[graft.streaming.EventStream.windowedCuped]] monitor (the
    * [[opeAggExprs]] discipline). Expects to be grouped with the arm
    * key aliased `arm`. */
  private[graft] def cupedAggExprs(metricCol: String,
      covariateCol: String): Seq[Column] = {
    val y = col(metricCol).cast("double")
    val x = col(covariateCol).cast("double")
    val badc = (y.isNull || isnan(y) || x.isNull || isnan(x))
      .cast("long")
    Seq(count(lit(1)).as("n"), sum(badc).as("__nbad"),
      sum(y).as("sy"), sum(x).as("sx"), sum(y * y).as("syy"),
      sum(x * x).as("sxx"), sum(x * y).as("sxy"))
  }

  /** The (group) pivot cells turning per-(group, arm) power sums into
    * one row per group — shared by batch (one global group) and
    * windowed (per-window) CUPED. */
  private[graft] def cupedPivotCells(armA: String,
      armB: String): Seq[Column] = {
    def cell(c: String, arm: String) =
      max(when(col("arm") === arm, col(c)))
    Seq(coalesce(cell("n", armA), lit(0L)).as("na"),
      coalesce(cell("n", armB), lit(0L)).as("nb"),
      cell("sy", armA).as("sya"), cell("sy", armB).as("syb"),
      cell("sx", armA).as("sxa"), cell("sx", armB).as("sxb"),
      cell("syy", armA).as("syya"), cell("syy", armB).as("syyb"),
      cell("sxx", armA).as("sxxa"), cell("sxx", armB).as("sxxb"),
      cell("sxy", armA).as("sxya"), cell("sxy", armB).as("sxyb"))
  }

  /** The CUPED formula chain over a pivoted power-sum frame — theta,
    * raw and adjusted deltas, both SEs (the raw Welch variance is
    * CLAMPED at 0: fp cancellation on a constant-metric arm can read
    * −1e-17 and a bare sqrt would return NaN), z and the erfcc p —
    * appended as `__`-prefixed columns in LAYERED aliased stages
    * (mirroring the oracle CTEs; a flat projection inlines the chain
    * past janino's codegen limits, measured). Every stage sits under
    * `__ok` (both arms present with n ≥ 2): CaseWhen evaluates
    * lazily, so a one-armed group never reaches the divisions (ANSI
    * throws on divide-by-zero). ONE source for the batch and windowed
    * operators. */
  private[graft] def cupedStatFrame(pv: DataFrame): DataFrame = {
    val ok = col("na") >= 2 && col("nb") >= 2
    def ifok(c: Column) = when(ok, c)
    val vden = (col("sxxa") + col("sxxb")) -
      (col("sxa") + col("sxb")) * (col("sxa") + col("sxb")) /
        (col("na") + col("nb"))
    val theta = when(vden > 0.0,
      ((col("sxya") + col("sxyb")) -
        (col("sxa") + col("sxb")) * (col("sya") + col("syb")) /
          (col("na") + col("nb"))) / vden).otherwise(lit(0.0))
    def my(a: String) = col(s"sy$a") / col(s"n$a")
    def mx(a: String) = col(s"sx$a") / col(s"n$a")
    def vy(a: String) = (col(s"syy$a") -
      col(s"sy$a") * col(s"sy$a") / col(s"n$a")) /
      (col(s"n$a") - lit(1.0))
    def vx(a: String) = (col(s"sxx$a") -
      col(s"sx$a") * col(s"sx$a") / col(s"n$a")) /
      (col(s"n$a") - lit(1.0))
    def cv(a: String) = (col(s"sxy$a") -
      col(s"sx$a") * col(s"sy$a") / col(s"n$a")) /
      (col(s"n$a") - lit(1.0))
    val st = pv.select(col("*"), ok.as("__ok"),
      ifok(theta).as("__th"),
      ifok(my("a")).as("__mya"), ifok(my("b")).as("__myb"),
      ifok(mx("a")).as("__mxa"), ifok(mx("b")).as("__mxb"),
      ifok(vy("a")).as("__vya"), ifok(vy("b")).as("__vyb"),
      ifok(vx("a")).as("__vxa"), ifok(vx("b")).as("__vxb"),
      ifok(cv("a")).as("__ca"), ifok(cv("b")).as("__cb"))
    val th = col("__th")
    val dl = st.select(col("*"),
      (col("__myb") - col("__mya")).as("__draw"),
      when(col("__ok"),
        sqrt(greatest(lit(0.0), col("__vya")) / col("na")
          + greatest(lit(0.0), col("__vyb")) / col("nb")))
        .as("__seraw"),
      ((col("__myb") - col("__mya")) -
        th * (col("__mxb") - col("__mxa"))).as("__delta"),
      greatest(lit(0.0), col("__vya") - lit(2.0) * th * col("__ca")
        + th * th * col("__vxa")).as("__s2a"),
      greatest(lit(0.0), col("__vyb") - lit(2.0) * th * col("__cb")
        + th * th * col("__vxb")).as("__s2b"))
    val s1 = dl.select(col("*"),
      when(col("__ok"),
        sqrt(col("__s2a") / col("na") + col("__s2b") / col("nb")))
        .as("__se"))
    val zz = s1.select(col("*"),
      when(col("__se") > 0.0, col("__delta") / col("__se"))
        .otherwise(lit(0.0)).as("__z"))
    zz.select(col("*"),
      when(col("__se") > 0.0, least(lit(1.0),
          Num.erfccCol(abs(col("__z")) / sqrt(lit(2.0)))))
        .otherwise(when(col("__delta") === 0.0, lit(1.0))
          .otherwise(lit(0.0))).as("__p"))
  }

  /** CUPED variance-reduced A/B delta (Deng, Xu, Kohavi & Walker 2013,
    * "Improving the Sensitivity of Online Controlled Experiments by
    * Utilizing Pre-Experiment Data") — the industry-standard trick for
    * making the same traffic decide FASTER: a covariate X measured
    * BEFORE assignment (last month's per-user metric, a pre-score)
    * cannot be affected by the treatment, so subtracting its
    * correlated part from the metric, y_cv = y − θ(x − x̄) with
    * θ = cov(x, y)/var(x) pooled over both arms, leaves the delta
    * unbiased while cutting its variance by the squared correlation.
    * The adjusted delta is algebraically
    * (ȳ_B − ȳ_A) − θ(x̄_B − x̄_A); per-arm adjusted variance folds
    * from the same moments, var(y) − 2θ·cov + θ²·var(x). A constant
    * covariate (var(x) = 0) degrades θ to 0 — the UNADJUSTED Welch
    * delta, never a division blowup. Two-sided p from the
    * [[Num.erfcc]] closed form both engines replay; CI at the fixed
    * [[Z95]]. Rows whose arm is neither `armA` nor `armB` are ignored
    * (a multi-arm log evaluates pairwise). Null/NaN metric or
    * covariate refuse via the census riding the one aggregate. One
    * row: (n_a, n_b, theta, delta_raw, se_raw, delta, se, z, p_value,
    * ci_lo, ci_hi, var_reduction, significant), doubles rounded at 9.
    *
    * RANDOMIZATION UNIT (r20): the default treats every ROW as an
    * independent observation — correct only when rows ARE the
    * randomization unit. Real experiments randomize by USER and log
    * many events per user; with within-user correlation the iid-row
    * SE understates the truth and every CI/p-value is
    * anti-conservative (Deng, Knoblich & Lu 2017, "Applying the Delta
    * Method in Metric Analytics"). Pass `unitCol = Some(u)` to
    * pre-aggregate per (arm, unit) into unit TOTALS y_u = Σy,
    * x_u = Σx inside the same job (the aggregate-per-unit-first fix —
    * one extra keyed aggregate, no extra scan) and run the IDENTICAL
    * formula chain over unit-level rows: n_a/n_b then count UNITS,
    * the delta is in per-unit units, and the SE is cluster-robust by
    * construction because unit totals are the independent
    * observations. Row hygiene propagates as NaN poison through the
    * unit fold (a bad row refuses, never silently corrupts a unit
    * total). A unit appearing in BOTH arms contributes one unit per
    * arm — cross-arm contamination is a design bug upstream of this
    * operator (the [[srmCheck]] family's territory).
    *
    * Scale shape: ONE (arm) hash aggregate over the experiment log —
    * six power sums per arm; O(1) driver arithmetic on two rows. The
    * unit path prepends one (arm, unit) hash aggregate (map-side
    * combinable; units-many intermediate rows, never collected).
    */
  def cupedDelta(exp: DataFrame, armCol: String, armA: String,
                 armB: String, metricCol: String, covariateCol: String,
                 alpha: Double = 0.05,
                 unitCol: Option[String] = None): DataFrame = {
    require(armA != armB, s"cupedDelta: armA and armB are both '$armA'")
    require(alpha > 0 && alpha < 0.5, s"cupedDelta: alpha=$alpha")
    // ONE (arm) aggregate via the shared [[cupedAggExprs]]; guards
    // read the two checkpointed rows, the formula chain is the shared
    // [[cupedStatFrame]] — the batch op and the windowed monitor
    // evaluate literally the same columns (the opeAggExprs discipline)
    val scoped = exp.filter(col(armCol).isin(armA, armB))
    val (src, yc, xc) = unitCol match {
      case None =>
        (scoped.select(col(armCol).cast("string").as("arm"),
          col(metricCol), col(covariateCol)), metricCol, covariateCol)
      case Some(u) =>
        val ue = cupedUnitExprs(metricCol, covariateCol)
        (scoped.groupBy(col(armCol).cast("string").as("arm"),
          col(u).as("__unit")).agg(ue.head, ue.tail: _*),
          "__uy", "__ux")
    }
    val e = cupedAggExprs(yc, xc)
    val per = src
      .groupBy(col("arm"))
      .agg(e.head, e.tail: _*)
      .localCheckpoint()
    val rows = per.collect().map(r => r.getString(0) -> r).toMap
    require(rows.contains(armA) && rows.contains(armB),
      s"cupedDelta: need rows in BOTH arms '$armA' and '$armB' — " +
        s"found ${rows.keys.mkString(", ")}")
    val (ra, rb) = (rows(armA), rows(armB))
    // row layout: arm(0), n(1), __nbad(2), sy(3), sx(4), syy(5),
    // sxx(6), sxy(7)
    val obs = if (unitCol.isDefined) "unit" else "row"
    val nBad = ra.getLong(2) + rb.getLong(2)
    require(nBad == 0,
      s"cupedDelta: $nBad ${obs}s with null/NaN metric or covariate " +
        "values — clean the frame first")
    val (na, nb) = (ra.getLong(1), rb.getLong(1))
    require(na >= 2 && nb >= 2,
      s"cupedDelta: need >= 2 ${obs}s per arm (got $na / $nb) — a " +
        "variance needs replication")
    val cells = cupedPivotCells(armA, armB)
    val row = cupedStatFrame(per.agg(cells.head, cells.tail: _*))
      .head()
    def g(nm: String) = row.getDouble(row.fieldIndex(nm))
    val (theta, deltaRaw, seRaw) = (g("__th"), g("__draw"), g("__seraw"))
    val (delta, se, z, p) = (g("__delta"), g("__se"), g("__z"), g("__p"))
    val vr = if (seRaw > 0.0) 1.0 - (se * se) / (seRaw * seRaw) else 0.0
    val spark = exp.sparkSession
    import spark.implicits._
    Seq((na, nb, Num.round9(theta), Num.round9(deltaRaw),
      Num.round9(seRaw), Num.round9(delta), Num.round9(se),
      Num.round9(z), Num.round9(p),
      Num.round9(delta - Z95 * se), Num.round9(delta + Z95 * se),
      Num.round9(vr), Num.round9(p) < alpha))
      .toDF("n_a", "n_b", "theta", "delta_raw", "se_raw", "delta",
        "se", "z", "p_value", "ci_lo", "ci_hi", "var_reduction",
        "significant")
  }

  /** Per-slice CUPED delta — [[cupedDelta]] grouped by a slice
    * column, because the A/B question is almost always sliced for
    * the same reason the OPE question is ([[offPolicyEvalBySlice]]):
    * a variant that wins OVERALL can lose on code traffic, and the
    * pooled verdict hides the reversal. θ is re-fit WITHIN each slice
    * (the [[graft.streaming.EventStream.windowedCuped]] convention —
    * every statistic stays within-slice arithmetic and the
    * variance-reduction factor reflects that slice's own covariate
    * correlation). The aggregate, pivot and formula chain are the
    * SAME single-sourced [[cupedAggExprs]]/[[cupedPivotCells]]/
    * [[cupedStatFrame]] the batch operator and the windowed monitor
    * use, so the three surfaces cannot drift. A slice missing an arm,
    * or with fewer than 2 observations in an arm, emits the −1.0
    * sentinel with `decidable = false` rather than failing the whole
    * report (a sliced report must keep reporting; the
    * [[windowedCuped]] convention). `unitCol = Some(u)` pre-folds
    * (slice, arm, unit) totals — the [[cupedDelta]] cluster-robust
    * path, per slice. Null/NaN metric or covariate refuse via the
    * census riding the one aggregate. One row per slice: (slice, n_a,
    * n_b, theta, delta_raw, se_raw, delta, se, z, p_value,
    * decidable), doubles rounded at 9.
    *
    * Scale shape: ONE (slice, arm) hash aggregate (the unit path
    * prepends a map-side-combinable (slice, arm, unit) fold), then a
    * (slice) pivot fold over the 2·slices-many checkpointed rows; no
    * join, no window function, slices never collected.
    */
  def cupedDeltaBySlice(exp: DataFrame, armCol: String, armA: String,
                        armB: String, metricCol: String,
                        covariateCol: String, sliceCol: String,
                        unitCol: Option[String] = None): DataFrame = {
    require(armA != armB,
      s"cupedDeltaBySlice: armA and armB are both '$armA'")
    val scoped = exp.filter(col(armCol).isin(armA, armB))
    val (src, yc, xc) = unitCol match {
      case None =>
        (scoped.select(col(sliceCol).as("slice"),
          col(armCol).cast("string").as("arm"),
          col(metricCol), col(covariateCol)),
          metricCol, covariateCol)
      case Some(u) =>
        val ue = cupedUnitExprs(metricCol, covariateCol)
        (scoped.groupBy(col(sliceCol).as("slice"),
          col(armCol).cast("string").as("arm"), col(u).as("__unit"))
          .agg(ue.head, ue.tail: _*), "__uy", "__ux")
    }
    val e = cupedAggExprs(yc, xc)
    val per = src.groupBy(col("slice"), col("arm"))
      .agg(e.head, e.tail: _*)
      .localCheckpoint()
    val badRow = per.agg(sum("__nbad")).head()
    val nBad = if (badRow.isNullAt(0)) 0L else badRow.getLong(0)
    val obs = if (unitCol.isDefined) "unit" else "row"
    require(nBad == 0,
      s"cupedDeltaBySlice: $nBad ${obs}s with null/NaN metric or " +
        "covariate values — clean the frame first")
    val cells = cupedPivotCells(armA, armB)
    val pv = per.groupBy(col("slice")).agg(cells.head, cells.tail: _*)
    val zz = cupedStatFrame(pv)
    val ok = col("__ok")
    def gated(c: Column) = round(when(ok, c).otherwise(lit(-1.0)), 9)
    zz.select(col("slice"), col("na").as("n_a"), col("nb").as("n_b"),
      gated(col("__th")).as("theta"),
      gated(col("__draw")).as("delta_raw"),
      gated(col("__seraw")).as("se_raw"),
      gated(col("__delta")).as("delta"), gated(col("__se")).as("se"),
      gated(col("__z")).as("z"), gated(col("__p")).as("p_value"),
      ok.as("decidable"))
  }

  /** Multivariate CUPED — regression adjustment with SEVERAL
    * pre-experiment covariates (Lin 2013, "Agnostic notes on
    * regression adjustments to experimental data", the multi-covariate
    * generalization of [[cupedDelta]]'s Deng et al. single-θ form):
    * one covariate captures last month's metric; real variance
    * reduction stacks several (pre-metric, traffic, session length).
    * θ solves the pooled centered normal equations S_xx θ = S_xy
    * (driver-side Gaussian elimination WITHOUT pivoting in the
    * declared covariate order, k ≤ 16 — the [[graft.ops.Pca]]-style
    * bounded fit; a centered PD matrix needs no pivot, and the FIXED
    * operation order is what lets a SQL oracle replay the k = 2 solve
    * literally), adjusted delta = (ȳ_B − ȳ_A) − Σ_j θ_j(x̄_jB − x̄_jA),
    * per-arm adjusted variance var(y) − 2Σθ_j cov_j + θᵀΣθ from the
    * same power sums, accumulated in declared-order ascending loops
    * (the cross-engine summation pin). A singular pivot refuses by
    * naming the collinear covariate — EXCEPT the k = 1 constant-
    * covariate case, which degrades to θ = 0 exactly like
    * [[cupedDelta]] (spec pins k = 1 ≡ cupedDelta column for column).
    * Two-sided p via the shared [[Num.erfcc]] chain, CI at [[Z95]].
    * Rows outside {armA, armB} are ignored; null/NaN metric or any
    * covariate refuse via the census riding the one aggregate. One
    * row: (n_a, n_b, k, theta_1..theta_k scalar doubles — k is a
    * call-site constant, so the column set is fixed per call; the r20
    * array output was the roster's one deviation from the scalars-only
    * output discipline and the round's only gate red — delta_raw,
    * se_raw, delta, se, z, p_value, ci_lo, ci_hi, var_reduction,
    * significant), doubles rounded at 9.
    *
    * Scale shape: ONE (arm) hash aggregate over the log —
    * O(k²) sums per arm (k ≤ 16 → ≤ ~150 columns); O(k³) driver
    * arithmetic on two rows.
    */
  def cupedDeltaMulti(exp: DataFrame, armCol: String, armA: String,
                      armB: String, metricCol: String,
                      covariateCols: Seq[String],
                      alpha: Double = 0.05): DataFrame = {
    require(armA != armB,
      s"cupedDeltaMulti: armA and armB are both '$armA'")
    require(alpha > 0 && alpha < 0.5, s"cupedDeltaMulti: alpha=$alpha")
    val k = covariateCols.length
    require(k >= 1 && k <= 16,
      s"cupedDeltaMulti: $k covariates — need 1 to 16 (the bounded " +
        "driver solve)")
    require(covariateCols.distinct.size == k,
      s"cupedDeltaMulti: duplicate covariates: " +
        covariateCols.diff(covariateCols.distinct).mkString(", "))
    val y = col(metricCol).cast("double")
    val xs = covariateCols.map(c => col(c).cast("double"))
    val badc = (y.isNull || isnan(y) ||
      xs.map(x => x.isNull || isnan(x)).reduce(_ || _)).cast("long")
    // ONE (arm) aggregate: count, census, Σy, Σy², then per covariate
    // Σx_i, Σx_i·y, and the upper triangle Σx_i·x_j
    val sums: Seq[Column] =
      Seq(count(lit(1)).as("n"), sum(badc).as("__nbad"),
        sum(y).as("sy"), sum(y * y).as("syy")) ++
      xs.zipWithIndex.map { case (x, i) => sum(x).as(s"sx$i") } ++
      xs.zipWithIndex.map { case (x, i) => sum(x * y).as(s"sxy$i") } ++
      (for (i <- 0 until k; j <- i until k)
        yield sum(xs(i) * xs(j)).as(s"sxx${i}_$j"))
    val per = exp.filter(col(armCol).isin(armA, armB))
      .groupBy(col(armCol).cast("string").as("arm"))
      .agg(sums.head, sums.tail: _*)
      .localCheckpoint()
    val rows = per.collect().map(r => r.getString(0) -> r).toMap
    require(rows.contains(armA) && rows.contains(armB),
      s"cupedDeltaMulti: need rows in BOTH arms '$armA' and '$armB' " +
        s"— found ${rows.keys.mkString(", ")}")
    val (ra, rb) = (rows(armA), rows(armB))
    def d(r: org.apache.spark.sql.Row, nm: String): Double =
      r.getDouble(r.fieldIndex(nm))
    val nBad = ra.getLong(ra.fieldIndex("__nbad")) +
      rb.getLong(rb.fieldIndex("__nbad"))
    require(nBad == 0,
      s"cupedDeltaMulti: $nBad rows with null/NaN metric or " +
        "covariate values — clean the frame first")
    val (na, nb) = (ra.getLong(ra.fieldIndex("n")),
      rb.getLong(rb.fieldIndex("n")))
    require(na >= 2 && nb >= 2,
      s"cupedDeltaMulti: need >= 2 rows per arm (got $na / $nb) — a " +
        "variance needs replication")
    val nd = (na + nb).toDouble
    // pooled centered normal equations, operand for operand as the
    // k = 2 oracle writes them: S[i][j] = (Σa + Σb) − (Σa+Σb)(Σa+Σb)/n
    def pool(nm: String) = d(ra, nm) + d(rb, nm)
    val sMat = Array.tabulate(k, k) { (i, j) =>
      val (lo, hi) = (math.min(i, j), math.max(i, j))
      pool(s"sxx${lo}_$hi") - pool(s"sx$lo") * pool(s"sx$hi") / nd
    }
    val bVec = Array.tabulate(k) { i =>
      pool(s"sxy$i") - pool(s"sx$i") * pool("sy") / nd
    }
    // scale for the singularity test: the largest diagonal entry
    val scale = sMat.indices.map(i => math.abs(sMat(i)(i))).max
    val theta = new Array[Double](k)
    val singular1 = k == 1 && sMat(0)(0) <= 0.0
    if (singular1) {
      theta(0) = 0.0 // the cupedDelta constant-covariate grace
    } else {
      // forward elimination, NO pivoting, declared column order
      for (j <- 0 until k) {
        require(math.abs(sMat(j)(j)) > 1e-12 * math.max(scale, 1e-300),
          s"cupedDeltaMulti: covariate '${covariateCols(j)}' is " +
            "constant or collinear with an earlier covariate after " +
            "centering — drop it (the normal equations are singular)")
        for (i <- j + 1 until k) {
          val f = sMat(i)(j) / sMat(j)(j)
          for (m <- j until k) sMat(i)(m) -= f * sMat(j)(m)
          bVec(i) -= f * bVec(j)
        }
      }
      for (j <- k - 1 to 0 by -1) {
        var acc = bVec(j)
        for (m <- j + 1 until k) acc -= sMat(j)(m) * theta(m)
        theta(j) = acc / sMat(j)(j)
      }
    }
    // per-arm means, variances, covariances (n − 1 denominators) and
    // the adjusted variance quadratic form in ascending-index order
    def stats(r: org.apache.spark.sql.Row, n: Long)
        : (Double, Double, Array[Double], Double) = {
      val nn = n.toDouble
      val my = d(r, "sy") / nn
      val vy = (d(r, "syy") - d(r, "sy") * d(r, "sy") / nn) / (nn - 1.0)
      val mx = Array.tabulate(k)(i => d(r, s"sx$i") / nn)
      def cv(i: Int, j: Int) = {
        val (lo, hi) = (math.min(i, j), math.max(i, j))
        (d(r, s"sxx${lo}_$hi") -
          d(r, s"sx$lo") * d(r, s"sx$hi") / nn) / (nn - 1.0)
      }
      def cy(i: Int) =
        (d(r, s"sxy$i") - d(r, s"sx$i") * d(r, "sy") / nn) / (nn - 1.0)
      var lin = 0.0
      for (j <- 0 until k) lin += theta(j) * cy(j)
      var quad = 0.0
      for (i <- 0 until k; j <- 0 until k)
        quad += theta(i) * theta(j) * cv(i, j)
      val s2 = math.max(0.0, vy - 2.0 * lin + quad)
      (my, vy, mx, s2)
    }
    val (mya, vya, mxa, s2a) = stats(ra, na)
    val (myb, vyb, mxb, s2b) = stats(rb, nb)
    val deltaRaw = myb - mya
    val seRaw = math.sqrt(math.max(0.0, vya) / na
      + math.max(0.0, vyb) / nb)
    var adj = 0.0
    for (j <- 0 until k) adj += theta(j) * (mxb(j) - mxa(j))
    val delta = deltaRaw - adj
    val se = math.sqrt(s2a / na + s2b / nb)
    val z = if (se > 0.0) delta / se else 0.0
    val p =
      if (se > 0.0)
        math.min(1.0, Num.erfcc(math.abs(z) / math.sqrt(2.0)))
      else if (delta == 0.0) 1.0 else 0.0
    val vr = if (seRaw > 0.0) 1.0 - (se * se) / (seRaw * seRaw) else 0.0
    val spark = exp.sparkSession
    // scalar theta_1..theta_k columns (k is a call-site constant, so
    // the schema is fixed per call) — the scalars-only output
    // discipline every other operator obeys; an array cell cannot be
    // hashed by the downstream pandas gate
    val schema = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("n_a",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_b",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType, nullable = false)) ++
      (1 to k).map(i => org.apache.spark.sql.types.StructField(
        s"theta_$i", org.apache.spark.sql.types.DoubleType,
        nullable = false)) ++
      Seq("delta_raw", "se_raw", "delta", "se", "z", "p_value",
        "ci_lo", "ci_hi", "var_reduction").map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.DoubleType, nullable = false)) :+
      org.apache.spark.sql.types.StructField("significant",
        org.apache.spark.sql.types.BooleanType, nullable = false))
    // Seq[Any] up front: a bare Seq(na, nb, k) numeric-widens the Int k
    // to Long, which breaks the IntegerType field at projection time
    val values: Seq[Any] = Seq[Any](na, nb, k) ++
      theta.map(Num.round9).toSeq ++
      Seq(Num.round9(deltaRaw), Num.round9(seRaw), Num.round9(delta),
        Num.round9(se), Num.round9(z), Num.round9(p),
        Num.round9(delta - Z95 * se), Num.round9(delta + Z95 * se),
        Num.round9(vr), Num.round9(p) < alpha)
    spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(values: _*)),
      schema)
  }

  /** Ratio-metric A/B delta under UNIT randomization via the delta
    * method (Deng, Knoblich & Lu 2017, "Applying the Delta Method in
    * Metric Analytics: A Practical Guide with Novel Ideas") — the
    * honest test for the metrics experiments actually ship on:
    * CTR = Σclicks/Σimpressions, revenue-per-session, accept rate per
    * suggestion. Such a ratio is NOT a mean of iid rows (the
    * denominator is random too, and events cluster within the
    * randomization unit), so neither the naive row-level z-test nor a
    * per-unit average-of-ratios matches the shipped metric. The delta
    * method does: per (arm, unit) totals (Y_u, N_u), the arm metric
    * R = ΣY_u/ΣN_u, and
    * Var(R) ≈ (s²_Y − 2R·s_YN + R²·s²_N) / (n·N̄²) from the unit-level
    * moments — cluster-robust by construction because unit totals are
    * the independent observations. Welch-style combination across
    * arms, two-sided p via the shared [[Num.erfccCol]] chain, CI at
    * the fixed [[Z95]]. Negative denominators refuse (a count/
    * duration scale); zero-total denominators refuse (no metric to
    * test); row hygiene propagates as NaN poison through the unit
    * fold (the [[cupedUnitExprs]] discipline). Rows whose arm is
    * neither `armA` nor `armB` are ignored. One row: (n_a, n_b,
    * ratio_a, ratio_b, delta, se, z, p_value, ci_lo, ci_hi,
    * significant), doubles rounded at 9; n_a/n_b count UNITS.
    *
    * Scale shape: one (arm, unit) hash aggregate (map-side
    * combinable) then ONE (arm) hash aggregate of six power sums;
    * O(1) driver arithmetic on two rows — no join, no window, units
    * never collected.
    */
  /** The per-(group, unit) ratio-metric pre-fold: unit totals
    * (Y_u, N_u) with NaN-poison hygiene (the [[cupedUnitExprs]]
    * discipline; negative denominators poison too). ONE source for
    * the batch [[ratioMetricDelta]] and the streaming
    * [[graft.streaming.EventStream.windowedRatioDelta]] monitor. */
  private[graft] def ratioUnitExprs(numerCol: String,
      denomCol: String): Seq[Column] = {
    val y = col(numerCol).cast("double")
    val d = col(denomCol).cast("double")
    val bad = y.isNull || isnan(y) || d.isNull || isnan(d) || d < 0.0
    Seq(sum(when(bad, lit(Double.NaN)).otherwise(y)).as("yu"),
      sum(when(bad, lit(Double.NaN)).otherwise(d)).as("nu"))
  }

  /** The per-group unit-moment aggregate over a (yu, nu) unit frame —
    * count, poisoned-unit census, five power sums. ONE source for the
    * batch and windowed ratio-metric forms. */
  private[graft] def ratioMomentExprs: Seq[Column] = {
    val badU = (col("yu").isNull || isnan(col("yu")) ||
      col("nu").isNull || isnan(col("nu"))).cast("long")
    Seq(count(lit(1)).as("n"), sum(badU).as("__nbad"),
      sum(col("yu")).as("sy"), sum(col("nu")).as("sn"),
      sum(col("yu") * col("yu")).as("syy"),
      sum(col("nu") * col("nu")).as("snn"),
      sum(col("yu") * col("nu")).as("syn"))
  }

  /** The (group) pivot cells for the ratio-metric chain (arm counts
    * coalesced to 0 so a one-armed window pivots rather than
    * nulls out — the [[cupedPivotCells]] convention). */
  private[graft] def ratioPivotCells(armA: String,
      armB: String): Seq[Column] = {
    def cell(c: String, arm: String) =
      max(when(col("arm") === arm, col(c)))
    Seq(
      coalesce(cell("n", armA), lit(0L)).as("na"),
      coalesce(cell("n", armB), lit(0L)).as("nb"),
      cell("sy", armA).as("sya"), cell("sy", armB).as("syb"),
      cell("sn", armA).as("sna"), cell("sn", armB).as("snb"),
      cell("syy", armA).as("syya"), cell("syy", armB).as("syyb"),
      cell("snn", armA).as("snna"), cell("snn", armB).as("snnb"),
      cell("syn", armA).as("syna"), cell("syn", armB).as("synb"))
  }

  /** The staged delta-method chain over a pivoted ratio-moment frame
    * — every stage sits under `__ok` (both arms ≥ 2 units with
    * positive denominator totals: CaseWhen evaluates lazily, so a
    * one-armed window never reaches the divisions). ONE source for
    * the batch operator and the windowed monitor (the
    * [[cupedStatFrame]] discipline). */
  private[graft] def ratioStatFrame(pv: DataFrame): DataFrame = {
    val ok = col("na") >= 2 && col("nb") >= 2 &&
      coalesce(col("sna") > 0.0, lit(false)) &&
      coalesce(col("snb") > 0.0, lit(false))
    def ifok(c: Column) = when(ok, c)
    def mom(tot: String, l: String, r: String, a: String) =
      (col(s"$tot$a") - col(s"$l$a") * col(s"$r$a") / col(s"n$a")) /
        (col(s"n$a") - lit(1.0))
    val st1 = pv.select(col("*"), ok.as("__ok"),
      ifok(col("sya") / col("sna")).as("__ra"),
      ifok(col("syb") / col("snb")).as("__rb"),
      ifok(col("sna") / col("na")).as("__ma"),
      ifok(col("snb") / col("nb")).as("__mb"),
      ifok(mom("syy", "sy", "sy", "a")).as("__vya"),
      ifok(mom("syy", "sy", "sy", "b")).as("__vyb"),
      ifok(mom("snn", "sn", "sn", "a")).as("__vna"),
      ifok(mom("snn", "sn", "sn", "b")).as("__vnb"),
      ifok(mom("syn", "sy", "sn", "a")).as("__ca"),
      ifok(mom("syn", "sy", "sn", "b")).as("__cb"))
    def varR(a: String, r: Column, v: Column, c: Column, vn: Column) =
      greatest(lit(0.0), v - lit(2.0) * r * c + r * r * vn) /
        (col(s"n$a") * col(s"__m$a") * col(s"__m$a"))
    val st2 = st1.select(col("*"),
      varR("a", col("__ra"), col("__vya"), col("__ca"), col("__vna"))
        .as("__va"),
      varR("b", col("__rb"), col("__vyb"), col("__cb"), col("__vnb"))
        .as("__vb"),
      (col("__rb") - col("__ra")).as("__delta"))
    val st3 = st2.select(col("*"),
      sqrt(col("__va") + col("__vb")).as("__se"))
    val st4 = st3.select(col("*"),
      when(col("__se") > 0.0, col("__delta") / col("__se"))
        .otherwise(when(col("__ok"), lit(0.0))).as("__z"))
    st4.select(col("*"),
      when(col("__se") > 0.0, least(lit(1.0),
          Num.erfccCol(abs(col("__z")) / sqrt(lit(2.0)))))
        .otherwise(when(col("__ok"),
          when(col("__delta") === 0.0, lit(1.0)).otherwise(lit(0.0))))
        .as("__p"))
  }

  def ratioMetricDelta(exp: DataFrame, armCol: String, armA: String,
                       armB: String, numerCol: String,
                       denomCol: String, unitCol: String,
                       alpha: Double = 0.05): DataFrame = {
    require(armA != armB,
      s"ratioMetricDelta: armA and armB are both '$armA'")
    require(alpha > 0 && alpha < 0.5, s"ratioMetricDelta: alpha=$alpha")
    // the shared unit fold + moment aggregate + staged chain
    // ([[ratioUnitExprs]]/[[ratioMomentExprs]]/[[ratioStatFrame]]) —
    // one source with the windowed monitor
    val ue = ratioUnitExprs(numerCol, denomCol)
    val units = exp.filter(col(armCol).isin(armA, armB))
      .groupBy(col(armCol).cast("string").as("arm"),
        col(unitCol).as("__unit"))
      .agg(ue.head, ue.tail: _*)
    val me = ratioMomentExprs
    val per = units.groupBy(col("arm"))
      .agg(me.head, me.tail: _*)
      .localCheckpoint()
    val rows = per.collect().map(r => r.getString(0) -> r).toMap
    require(rows.contains(armA) && rows.contains(armB),
      s"ratioMetricDelta: need units in BOTH arms '$armA' and " +
        s"'$armB' — found ${rows.keys.mkString(", ")}")
    val (ra0, rb0) = (rows(armA), rows(armB))
    // row layout: arm(0), n(1), __nbad(2), sy(3), sn(4), syy(5),
    // snn(6), syn(7)
    val nBad = ra0.getLong(2) + rb0.getLong(2)
    require(nBad == 0,
      s"ratioMetricDelta: $nBad units with null/NaN numerator or " +
        "null/NaN/negative denominator rows — clean the frame first")
    require(ra0.getLong(1) >= 2 && rb0.getLong(1) >= 2,
      s"ratioMetricDelta: need >= 2 units per arm (got " +
        s"${ra0.getLong(1)} / ${rb0.getLong(1)}) — a variance needs " +
        "replication")
    require(ra0.getDouble(4) > 0.0 && rb0.getDouble(4) > 0.0,
      "ratioMetricDelta: each arm's denominator total must be " +
        "positive — a zero-exposure arm has no ratio to test")
    // pivot + staged delta-method chain as COLUMN arithmetic via the
    // shared [[ratioPivotCells]]/[[ratioStatFrame]] (the
    // cupedStatFrame discipline: the oracle replays it CTE for CTE,
    // and stages keep janino inside its codegen limits)
    val cells = ratioPivotCells(armA, armB)
    val pv = per.agg(cells.head, cells.tail: _*)
    val row = ratioStatFrame(pv).head()
    def g(nm: String) = row.getDouble(row.fieldIndex(nm))
    val (delta, se, z, p) = (g("__delta"), g("__se"), g("__z"), g("__p"))
    val spark = exp.sparkSession
    import spark.implicits._
    Seq((ra0.getLong(1), rb0.getLong(1), Num.round9(g("__ra")),
      Num.round9(g("__rb")), Num.round9(delta), Num.round9(se),
      Num.round9(z), Num.round9(p), Num.round9(delta - Z95 * se),
      Num.round9(delta + Z95 * se), Num.round9(p) < alpha))
      .toDF("n_a", "n_b", "ratio_a", "ratio_b", "delta", "se", "z",
        "p_value", "ci_lo", "ci_hi", "significant")
  }

  /** Empirical-Bayes shrinkage of per-slice rates (Robbins 1956;
    * Efron & Morris 1975's James–Stein treatment — the batting-average
    * construction) — the companion [[offPolicyEvalBySlice]] and every
    * per-slice accuracy report needs: a slice with 12 rows and a
    * perfect score is NOT the best slice, and ranking raw per-slice
    * rates systematically crowns the small noisy ones. Method of
    * moments on the normal approximation: pooled rate p̄ = Σs/Σn
    * (exact integer sums), between-slice variance τ² = max(0,
    * Var(p̂_i) − mean_i(p̄(1−p̄)/n_i)), and each slice shrinks toward
    * the pool by its own noise share, B_i = τ²/(τ² + p̄(1−p̄)/n_i),
    * shrunk_i = p̄ + B_i(p̂_i − p̄) — a big slice keeps its rate
    * (B → 1), a tiny one is pulled home (B → 0), and τ² = 0 (slices
    * genuinely identical) collapses every slice to p̄ exactly. The
    * across-slice moment sums (Σp̂, Σp̂², Σ1/n — non-dyadic doubles)
    * are evaluated as PREFIX sums in slice order and read at the last
    * row, the [[graft.streaming.EventStream.cusumDrift]] cross-engine
    * convention, so summation order cannot diverge between engines.
    * Success values outside {0, 1} or null refuse via the riding
    * census; fewer than 2 slices refuse (between-variance needs
    * replication); `maxSlices` bounds the slice-ordered scan (the
    * ksDrift convention). One row per slice: (slice, n, successes,
    * rate, shrink_factor, shrunk_rate), doubles rounded at 9.
    *
    * Scale shape: ONE (slice) hash aggregate over the corpus, then a
    * slice-ORDERED prefix scan over the slices-many post-aggregate
    * rows (bounded by `maxSlices`); output is column arithmetic on
    * the checkpointed per-slice frame.
    */
  def empiricalBayesRates(df: DataFrame, sliceCol: String,
                          successCol: String,
                          maxSlices: Int = 100000): DataFrame = {
    require(maxSlices >= 2, s"empiricalBayesRates: maxSlices=$maxSlices")
    val s = col(successCol).cast("double")
    val badc = (s.isNull || isnan(s) || (s =!= 0.0 && s =!= 1.0))
      .cast("long")
    val per = df.groupBy(col(sliceCol).as("slice"))
      .agg(count(lit(1)).as("n"), sum(s).as("s"),
        sum(badc).as("__nbad"))
      .localCheckpoint()
    val guard = per.agg(count(lit(1)).as("k"), sum("__nbad").as("bad"),
      sum("n").as("nn"), sum("s").as("ss")).head()
    require(guard.getLong(0) > 0, "empiricalBayesRates: empty frame")
    val nBad = if (guard.isNullAt(1)) 0L else guard.getLong(1)
    require(nBad == 0,
      s"empiricalBayesRates: $nBad null/NaN/non-binary $successCol " +
        "values — successes must be 0 or 1; clean the frame first")
    val k = guard.getLong(0)
    require(k >= 2,
      s"empiricalBayesRates: $k slice(s) — between-slice variance " +
        "needs at least 2")
    require(k <= maxSlices,
      s"empiricalBayesRates: $k slices exceed maxSlices=$maxSlices — " +
        "the slice-ordered moment scan is bounded by design; coarsen " +
        "the slicing or raise maxSlices")
    // pooled rate from EXACT integer sums — order-free
    val pbar = guard.getDouble(3) / guard.getLong(2)
    // across-slice moment sums as slice-ordered PREFIX sums read at
    // the last row (cusumDrift convention: sequential accumulation in
    // a pinned order on both engines)
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy("slice")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val p = col("s").cast("double") / col("n")
    val last = per
      .select(sum(p).over(wOrd).as("cp"),
        sum(p * p).over(wOrd).as("cp2"),
        sum(lit(1.0) / col("n")).over(wOrd).as("cinv"),
        row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("slice"))
          .as("rn"))
      .filter(col("rn") === k).head()
    val (cp, cp2, cinv) = (last.getDouble(0), last.getDouble(1),
      last.getDouble(2))
    val meanp = cp / k
    val varp = (cp2 - k * meanp * meanp) / (k - 1.0)
    val pw = pbar * (1.0 - pbar)
    val within = pw * cinv / k
    val tau2 = math.max(0.0, varp - within)
    val shrink = when(lit(tau2) + lit(pw) / col("n") > 0.0,
      lit(tau2) / (lit(tau2) + lit(pw) / col("n"))).otherwise(lit(0.0))
    per.select(col("slice"), col("n"),
      col("s").cast("long").as("successes"),
      round(p, 9).as("rate"),
      round(shrink, 9).as("shrink_factor"),
      round(lit(pbar) + shrink * (p - lit(pbar)), 9).as("shrunk_rate"))
  }

  /** Per-slice A/B sample-size planning (the standard two-proportion
    * formula — Fleiss, Levin & Paik 2003, "Statistical Methods for
    * Rates and Proportions" §4; z-quantiles as fixed literals, the
    * repo-wide convention) — the question BEFORE the experiment the
    * decision leg answers after it: "at this slice's base rate and
    * traffic, is detecting an `mde` lift even feasible?" For each
    * slice with observed rate p̂: p₀ = p̂, p₁ = p̂ + mde,
    * p̄ = (p₀ + p₁)/2, and the per-arm requirement
    * n = ( z_{1−α/2}·√(2·p̄(1−p̄)) + z_{1−β}·√(p₀(1−p₀) + p₁(1−p₁)) )²
    * / mde². `multiple_needed` = 2n / n_slice says how many times the
    * observed slice traffic the experiment costs — the planning
    * number a roadmap reads. A slice whose target p₁ leaves [0, 1]
    * gets the −1.0 sentinel (the q_stream_eval null convention): no
    * experiment can detect a lift past the probability boundary.
    * Defaults z = 1.959964 (two-sided 95%, the [[Z95]] literal) and
    * z_{1−β} = 0.841621234 (80% power). Success hygiene rides the one
    * aggregate (the [[empiricalBayesRates]] census). One row per
    * slice: (slice, n, successes, rate, target_rate, n_per_arm,
    * multiple_needed), doubles rounded at 9.
    *
    * Scale shape: ONE (slice) hash aggregate; output is column
    * arithmetic on the checkpointed per-slice rows.
    */
  def sampleSizeBySlice(df: DataFrame, sliceCol: String,
                        successCol: String, mde: Double,
                        zAlpha: Double = Z95,
                        zBeta: Double = 0.841621234): DataFrame = {
    require(mde > 0 && mde < 1,
      s"sampleSizeBySlice: mde=$mde must be in (0, 1) — the absolute " +
        "lift worth detecting")
    require(zAlpha > 0 && zBeta > 0,
      s"sampleSizeBySlice: zAlpha=$zAlpha zBeta=$zBeta")
    val s = col(successCol).cast("double")
    val badc = (s.isNull || isnan(s) || (s =!= 0.0 && s =!= 1.0))
      .cast("long")
    val per = df.groupBy(col(sliceCol).as("slice"))
      .agg(count(lit(1)).as("n"), sum(s).as("s"),
        sum(badc).as("__nbad"))
      .localCheckpoint()
    val guard = per.agg(count(lit(1)).as("k"), sum("__nbad").as("bad"))
      .head()
    require(guard.getLong(0) > 0, "sampleSizeBySlice: empty frame")
    val nBad = if (guard.isNullAt(1)) 0L else guard.getLong(1)
    require(nBad == 0,
      s"sampleSizeBySlice: $nBad null/NaN/non-binary $successCol " +
        "values — successes must be 0 or 1; clean the frame first")
    val p0 = col("s").cast("double") / col("n")
    val p1 = p0 + lit(mde)
    val pb = (p0 + p1) / 2.0
    val feasible = p1 <= 1.0
    // (e·e), not pow(e, 2) — the windowedAb convention: the oracle
    // multiplies, and pow is not bit-identical to multiplication
    val e = lit(zAlpha) * sqrt(lit(2.0) * pb * (lit(1.0) - pb)) +
      lit(zBeta) * sqrt(p0 * (lit(1.0) - p0) + p1 * (lit(1.0) - p1))
    val nArm = e * e / (lit(mde) * lit(mde))
    per.select(col("slice"), col("n"),
      col("s").cast("long").as("successes"),
      round(p0, 9).as("rate"),
      round(when(feasible, p1).otherwise(lit(-1.0)), 9)
        .as("target_rate"),
      round(when(feasible, nArm).otherwise(lit(-1.0)), 9)
        .as("n_per_arm"),
      round(when(feasible, lit(2.0) * nArm / col("n"))
        .otherwise(lit(-1.0)), 9).as("multiple_needed"))
  }

  /** The SRM per-group aggregate: total, one count cell per EXPECTED
    * arm (in the caller's sorted order), and the census of rows whose
    * arm is outside the declared design — ONE source for the batch
    * [[srmCheck]] and the streaming
    * [[graft.streaming.EventStream.windowedSrm]] monitor (the
    * [[mcnemarAggExprs]] discipline). */
  private[graft] def srmAggExprs(armCol: String,
      arms: Seq[String]): Seq[Column] = {
    val a = col(armCol).cast("string")
    val badc = (a.isNull || !a.isin(arms: _*)).cast("long")
    count(lit(1)).as("n") +: sum(badc).as("__nbad") +:
      arms.zipWithIndex.map { case (arm, i) =>
        sum((a === arm).cast("long")).as(s"__c$i")
      }
  }

  /** The SRM statistic columns over a frame carrying [[srmAggExprs]]'
    * outputs: χ² = Σ_i (o_i − e_i)²/e_i with e_i = w_i·n, summed
    * LEFT-ASSOCIATIVELY in the caller's sorted arm order (a fixed
    * literal expression both engines parse the same way — the
    * cross-engine summation-order pin without prefix-sum machinery,
    * viable because k is arms-small), p from the closed-form
    * [[Num.chi2PCol]] at df = k − 1, and the flag compared on the
    * round(9) grid. ONE source for batch and windowed forms. */
  private[graft] def srmStatCols(weights: Seq[Double],
      alpha: Double): Seq[Column] = {
    val n = col("n").cast("double")
    val chi2 = weights.zipWithIndex.map { case (w, i) =>
      val o = col(s"__c$i").cast("double")
      val e = lit(w) * n
      (o - e) * (o - e) / e
    }.reduceLeft(_ + _)
    val df = weights.length - 1
    val p = round(Num.chi2PCol(chi2, df), 9)
    Seq(round(chi2, 9).as("chi2"), lit(df).as("df"),
      p.as("p_value"), (p < alpha).as("srm"))
  }

  /** Sample-ratio-mismatch guard (the χ² goodness-of-fit check every
    * experiment dashboard runs FIRST — e.g. Fabijan et al. 2019,
    * "Diagnosing Sample Ratio Mismatch"): compare each arm's observed
    * traffic against the DECLARED assignment weights, because a
    * biased assignment (a broken hash, a bot filter that eats one arm,
    * a redirect that drops slow clients) invalidates every downstream
    * statistic no matter how good the estimators are — CUPED, the
    * sequential boundaries, the per-slice shrinkage all assume the
    * split the design declared. χ² = Σ (o_i − w_i·n)²/(w_i·n) over the
    * declared arms, p from the EXACT finite closed form of the
    * χ²_{k−1} upper tail ([[Num.chi2P]] — erfc base term plus a
    * driver-literal Horner polynomial, so an ANSI-SQL oracle replays
    * it), flagged at the conventional `alpha = 0.001` (an SRM check
    * runs on every dashboard refresh; a loose threshold would fire
    * constantly on healthy experiments). Rows whose arm is OUTSIDE
    * the declared design refuse via the census riding the one
    * aggregate — an undeclared arm is itself an assignment bug, not
    * noise to ignore. One row per declared arm: (arm, n_arm,
    * expected_n, share, expected_share) plus the global (n, chi2, df,
    * p_value, srm) repeated on each row, doubles rounded at 9.
    *
    * Scale shape: ONE scalar hash aggregate over the log (k + 2
    * conditional counts — no groupBy shuffle of arm keys, no join);
    * the per-arm output rows unfold from the single checkpointed row.
    */
  def srmCheck(exp: DataFrame, armCol: String,
               expectedWeights: Seq[(String, Double)],
               alpha: Double = 0.001): DataFrame = {
    val arms = expectedWeights.map(_._1)
    require(arms.distinct.size == arms.size,
      s"srmCheck: duplicate arms in expectedWeights: " +
        arms.diff(arms.distinct).mkString(", "))
    require(arms.size >= 2 && arms.size <= 129,
      s"srmCheck: ${arms.size} arms — need 2 to 129 (df ≤ 128, the " +
        "closed-form χ² bound)")
    require(expectedWeights.forall(_._2 > 0.0),
      "srmCheck: every expected weight must be positive — an arm " +
        "declared at weight 0 cannot be χ²-tested; drop it")
    val wsum = expectedWeights.map(_._2).sum
    require(math.abs(wsum - 1.0) <= 1e-9,
      s"srmCheck: expected weights sum to $wsum, not 1 — declare the " +
        "full design")
    require(alpha > 0 && alpha < 0.5, s"srmCheck: alpha=$alpha")
    // sorted arm order = THE cross-engine summation-order pin for the
    // χ² fold (and the output row order)
    val sorted = expectedWeights.sortBy(_._1)
    val e = srmAggExprs(armCol, sorted.map(_._1))
    val agg = exp.agg(e.head, e.tail: _*).localCheckpoint()
    val g = agg.head()
    val nBad = if (g.isNullAt(1)) 0L else g.getLong(1)
    require(nBad == 0,
      s"srmCheck: $nBad rows with arms outside the declared design " +
        s"{${sorted.map(_._1).mkString(", ")}} (or null) — an " +
        "undeclared arm is an assignment bug; fix the design or the " +
        "log")
    require(g.getLong(0) > 0, "srmCheck: empty log")
    val stats = srmStatCols(sorted.map(_._2), alpha)
    val perArm = explode(array(sorted.zipWithIndex.map {
      case ((arm, w), i) =>
        struct(lit(arm).as("arm"), col(s"__c$i").as("n_arm"),
          (lit(w) * col("n")).as("expected_n"),
          (col(s"__c$i").cast("double") / col("n")).as("share"),
          lit(w).as("expected_share"))
    }: _*)).as("r")
    agg.select(perArm +: (col("n") +: stats): _*)
      .select(col("r.arm").as("arm"), col("r.n_arm").as("n_arm"),
        round(col("r.expected_n"), 9).as("expected_n"),
        round(col("r.share"), 9).as("share"),
        round(col("r.expected_share"), 9).as("expected_share"),
        col("n"), col("chi2"), col("df"), col("p_value"), col("srm"))
  }

  /** The composed end-to-end experiment report — what a real
    * experiment reviewer actually reads, in ONE operator over ONE
    * materialized pass of the log (the [[abReport]] precedent for the
    * classifier leg, applied to the experimentation leg): the
    * piecewise operators exist, but a reviewer needs them TOGETHER,
    * in dependency order — is the assignment even valid (SRM), what
    * is the variance-reduced verdict (CUPED), would an anytime-valid
    * monitor have stopped by now (mixture-SPRT snapshot with the
    * PLUG-IN pooled variance — no caller σ² guess), and which slices
    * actually carry the effect (EB-shrunk rates, so small noisy
    * slices don't top the ranking). Four legs, three aggregates, one
    * corpus read:
    *
    *  - the projected log is localCheckpoint'ed once — the ONLY
    *    corpus pass; both keyed aggregates below read the checkpoint;
    *  - ONE (arm) aggregate via [[cupedAggExprs]] feeds THREE legs:
    *    the SRM χ² over the same per-arm counts (the [[srmCheck]]
    *    formula at k = 2, arm-name-sorted fold order, p from
    *    [[Num.chi2P]]), the CUPED chain (the [[cupedStatFrame]]
    *    columns, verbatim), and the sequential snapshot — the
    *    [[graft.streaming.EventStream.windowedAbMixtureSprt]] closed
    *    form at the CURRENT cumulative state, V = s²(1/n_A + 1/n_B)
    *    with the pooled plug-in s² folding from the Σy² the CUPED
    *    aggregate already carries;
    *  - ONE (slice) aggregate via [[empiricalBayesRates]], verbatim.
    *
    * Scope: a TWO-arm report (multi-arm logs evaluate pairwise, the
    * [[cupedDelta]] convention) — rows outside {armA, armB} are
    * ignored and `expectedWeights` declares the two arms' design
    * shares (they must sum to 1). A zero pooled metric variance emits
    * the −1.0 sentinel in the sequential columns with
    * `seq_decidable = false` (a constant metric has no scale to test
    * against). One row per slice: the [[empiricalBayesRates]] columns
    * (slice, n, successes, rate, shrink_factor, shrunk_rate) plus the
    * GLOBAL verdict repeated on every row (n_total, srm_chi2, srm_p,
    * srm, theta, delta_raw, delta, se, z, p_value, ci_lo, ci_hi,
    * var_reduction, significant, seq_var, seq_log_lambda, seq_p,
    * seq_reject, seq_decidable), doubles rounded at 9 — one DuckDB
    * query replays the whole frame (slice CTEs × global CTE).
    *
    * Scale shape: one corpus read + two keyed hash aggregates over
    * the checkpointed projection; O(1) driver arithmetic.
    */
  def abExperimentReport(exp: DataFrame, armCol: String, armA: String,
                         armB: String, metricCol: String,
                         covariateCol: String, successCol: String,
                         sliceCol: String,
                         expectedWeights: (Double, Double) = (0.5, 0.5),
                         tau2: Double = 0.0625,
                         alpha: Double = 0.05,
                         alphaSrm: Double = 0.001,
                         alphaSeq: Double = 0.05): DataFrame = {
    require(armA != armB,
      s"abExperimentReport: armA and armB are both '$armA'")
    require(expectedWeights._1 > 0 && expectedWeights._2 > 0 &&
      math.abs(expectedWeights._1 + expectedWeights._2 - 1.0) <= 1e-9,
      s"abExperimentReport: expected weights $expectedWeights must " +
        "be positive and sum to 1")
    require(tau2 > 0, s"abExperimentReport: tau2=$tau2")
    require(alpha > 0 && alpha < 0.5 && alphaSrm > 0 &&
      alphaSrm < 0.5 && alphaSeq > 0 && alphaSeq < 0.5,
      s"abExperimentReport: alpha=$alpha alphaSrm=$alphaSrm " +
        s"alphaSeq=$alphaSeq")
    // the ONE corpus pass: project and materialize
    val base = exp.filter(col(armCol).isin(armA, armB))
      .select(col(armCol).cast("string").as("arm"),
        col(metricCol).as("__y"), col(covariateCol).as("__x"),
        col(successCol).as("__s"), col(sliceCol).as("slice"))
      .localCheckpoint()
    // leg 1-3 feed: the (arm) CUPED aggregate
    val e = cupedAggExprs("__y", "__x")
    val per = base.groupBy(col("arm")).agg(e.head, e.tail: _*)
      .localCheckpoint()
    val rows = per.collect().map(r => r.getString(0) -> r).toMap
    require(rows.contains(armA) && rows.contains(armB),
      s"abExperimentReport: need rows in BOTH arms '$armA' and " +
        s"'$armB' — found ${rows.keys.mkString(", ")}")
    val (ra, rb) = (rows(armA), rows(armB))
    // row layout: arm(0), n(1), __nbad(2), sy(3), sx(4), syy(5),
    // sxx(6), sxy(7)
    val nBad = ra.getLong(2) + rb.getLong(2)
    require(nBad == 0,
      s"abExperimentReport: $nBad rows with null/NaN metric or " +
        "covariate values — clean the frame first")
    val (na, nb) = (ra.getLong(1), rb.getLong(1))
    require(na >= 2 && nb >= 2,
      s"abExperimentReport: need >= 2 rows per arm (got $na / $nb)")
    val nd = (na + nb).toDouble
    // SRM leg: the srmCheck χ² over the same counts, k = 2, summed
    // in ARM-NAME-SORTED order (the srmStatCols cross-engine pin)
    val byName =
      if (armA <= armB) Seq((na, expectedWeights._1),
        (nb, expectedWeights._2))
      else Seq((nb, expectedWeights._2), (na, expectedWeights._1))
    val chi2 = byName.map { case (o, w) =>
      (o - w * nd) * (o - w * nd) / (w * nd)
    }.reduceLeft(_ + _)
    val srmP = Num.round9(Num.chi2P(chi2, 1))
    // CUPED leg: the shared pivot + formula chain, verbatim
    val cells = cupedPivotCells(armA, armB)
    val cu = cupedStatFrame(per.agg(cells.head, cells.tail: _*)).head()
    def g(nm: String) = cu.getDouble(cu.fieldIndex(nm))
    val (theta, deltaRaw, seRaw) = (g("__th"), g("__draw"), g("__seraw"))
    val (delta, se, z, p) = (g("__delta"), g("__se"), g("__z"), g("__p"))
    val vr = if (seRaw > 0.0) 1.0 - (se * se) / (seRaw * seRaw) else 0.0
    // sequential leg: the two-sample mixture-SPRT snapshot at the
    // current cumulative state, pooled PLUG-IN variance from the Σy²
    // the aggregate already carries (no caller σ² guess)
    val (sya, syb) = (ra.getDouble(3), rb.getDouble(3))
    val (syya, syyb) = (ra.getDouble(5), rb.getDouble(5))
    val s2p = (syya + syyb - sya * sya / na - syb * syb / nb) /
      (na + nb - 2.0)
    val seqOk = s2p > 0.0
    val thrSeq = Num.round9(math.log(1.0 / alphaSeq))
    val (seqLl, seqP, seqReject) =
      if (seqOk) {
        val vv = s2p * (1.0 / na + 1.0 / nb)
        val ll = Num.round9(0.5 * math.log(vv / (vv + tau2))
          + (deltaRaw * deltaRaw * tau2) / (2.0 * vv * (vv + tau2)))
        (ll, Num.round9(math.min(1.0, math.exp(0.0 - ll))),
          ll >= thrSeq)
      } else (-1.0, -1.0, false)
    // slice leg: EB-shrunk rates, verbatim reuse (its own (slice)
    // aggregate over the checkpointed projection + riding census)
    val eb = empiricalBayesRates(base.select(col("slice"), col("__s")),
      "slice", "__s")
    eb.select(col("*"),
      lit(na + nb).as("n_total"),
      lit(Num.round9(chi2)).as("srm_chi2"),
      lit(srmP).as("srm_p"),
      lit(srmP < alphaSrm).as("srm"),
      lit(Num.round9(theta)).as("theta"),
      lit(Num.round9(deltaRaw)).as("delta_raw"),
      lit(Num.round9(delta)).as("delta"),
      lit(Num.round9(se)).as("se"),
      lit(Num.round9(z)).as("z"),
      lit(Num.round9(p)).as("p_value"),
      lit(Num.round9(delta - Z95 * se)).as("ci_lo"),
      lit(Num.round9(delta + Z95 * se)).as("ci_hi"),
      lit(Num.round9(vr)).as("var_reduction"),
      lit(Num.round9(p) < alpha).as("significant"),
      lit(if (seqOk) Num.round9(s2p) else -1.0).as("seq_var"),
      lit(seqLl).as("seq_log_lambda"),
      lit(seqP).as("seq_p"),
      lit(seqReject).as("seq_reject"),
      lit(seqOk).as("seq_decidable"))
  }

  /** LLM-judge bias diagnostics over a pairwise-comparison log — the
    * two classic artifacts every "LLM as judge" pipeline must audit
    * before trusting a win rate (Zheng et al. 2023, "Judging
    * LLM-as-a-Judge", §3: position bias and verbosity bias):
    *
    *  - POSITION: P(A wins | A shown first) vs P(A wins | A shown
    *    second) — a judge that favors whichever answer it reads first
    *    inflates whichever model the harness happens to list first.
    *    Reported as the per-position win rates, their difference, the
    *    two-proportion z on it (pooled SE, two-sided p via the shared
    *    [[Num.erfcc]] chain), and `debiased_win_a` = the UNWEIGHTED
    *    mean of the two per-position rates — the position-balanced
    *    estimate (equals the raw rate exactly when the orders are
    *    balanced, corrects it when they are not).
    *  - VERBOSITY: the point-biserial correlation between 1{A wins}
    *    and the length delta len_A − len_B, with the normal
    *    approximation z = r·√(n−2)/√(1−r²) and its two-sided p — a
    *    significantly positive r says the judge pays for tokens, not
    *    quality.
    *
    * TIES (r20): real judge logs are full of them. Pass
    * `tieValue = Some(t)` to accept winner = t rows per the standard
    * convention: ties are HALF-CREDITED in every reported win RATE
    * (win_a, win_a_first/second, debiased_win_a — the drop-in metric
    * a dashboard shows), EXCLUDED from the Bernoulli position test
    * (effect/z/p are computed over decisive rows only — a half-credit
    * is not a Bernoulli outcome), carried at aw = 0.5 in the
    * verbosity correlation (plain Pearson over {0, ½, 1}; Σaw² rides
    * the aggregate since aw² ≠ aw at ½), and reported as `tie_rate`.
    * With no ties every formula degrades to the binary form term for
    * term (spec-pinned).
    *
    * Logs with only one presentation order refuse (position bias is
    * unmeasurable without both), as does a log whose DECISIVE rows
    * all sit in one position; winner values outside {winnerA,
    * winnerB} (∪ tieValue), null order flags, or null/NaN/negative
    * lengths refuse via the census riding the ONE aggregate. One row:
    * (n, win_a, win_a_first, win_a_second, position_effect,
    * position_z, position_p, debiased_win_a, len_r, len_z, len_p,
    * tie_rate), doubles rounded at 9.
    *
    * Scale shape: ONE scalar hash aggregate over the log — twelve
    * sums; O(1) driver arithmetic.
    */
  def judgeBiasReport(pairs: DataFrame, winnerCol: String,
                      aFirstCol: String, lenACol: String,
                      lenBCol: String, winnerA: String = "a",
                      winnerB: String = "b",
                      tieValue: Option[String] = None): DataFrame = {
    require(winnerA != winnerB,
      s"judgeBiasReport: winnerA and winnerB are both '$winnerA'")
    tieValue.foreach(t => require(t != winnerA && t != winnerB,
      s"judgeBiasReport: tieValue '$t' collides with a winner label"))
    val wn = col(winnerCol).cast("string")
    val first = col(aFirstCol).cast("boolean")
    val la = col(lenACol).cast("double")
    val lb = col(lenBCol).cast("double")
    val isTie = tieValue.map(t => wn === t).getOrElse(lit(false))
    val badc = (wn.isNull ||
      (wn =!= winnerA && wn =!= winnerB && !isTie) ||
      first.isNull || la.isNull || isnan(la) || la < 0.0 ||
      lb.isNull || isnan(lb) || lb < 0.0).cast("long")
    // A's credit: 1 for a win, ½ for a tie, 0 for a loss
    val aw = when(wn === winnerA, lit(1.0))
      .otherwise(when(isTie, lit(0.5)).otherwise(lit(0.0)))
    val d = la - lb
    val agg = pairs.agg(count(lit(1)).as("n"), sum(badc).as("nbad"),
      sum(first.cast("long")).as("n1"),
      sum((first && wn === winnerA).cast("long")).as("w1"),
      sum((!first && wn === winnerA).cast("long")).as("w2"),
      sum(isTie.cast("long")).as("t"),
      sum((first && isTie).cast("long")).as("t1"),
      sum(aw).as("sw"), sum(aw * aw).as("sww"),
      sum(d).as("sd"), sum(d * d).as("sdd"),
      sum(aw * d).as("swd")).head()
    val nBad = if (agg.isNullAt(1)) 0L else agg.getLong(1)
    val lbl = tieValue.map(t => s"{$winnerA, $winnerB, $t}")
      .getOrElse(s"{$winnerA, $winnerB}")
    require(nBad == 0,
      s"judgeBiasReport: $nBad rows with winners outside " +
        s"$lbl, null order flags, or null/NaN/" +
        "negative lengths — clean the log first")
    require(agg.getLong(0) > 0, "judgeBiasReport: empty log")
    val n = agg.getLong(0)
    val (n1, w1, w2) = (agg.getLong(2), agg.getLong(3), agg.getLong(4))
    val (t, t1) = (agg.getLong(5), agg.getLong(6))
    val n2 = n - n1
    val t2 = t - t1
    require(n1 > 0 && n2 > 0,
      s"judgeBiasReport: every comparison shows A in the same " +
        s"position ($n1 first of $n) — position bias is unmeasurable " +
        "without both orders; randomize the presentation")
    // decisive (non-tie) counts per position carry the Bernoulli test
    val (nt1, nt2) = (n1 - t1, n2 - t2)
    require(nt1 > 0 && nt2 > 0,
      s"judgeBiasReport: every DECISIVE comparison sits in one " +
        s"position ($nt1 first / $nt2 second non-tie of $n) — the " +
        "position test needs decisive rows in both orders")
    val nd = n.toDouble
    // half-credit rates: the drop-in metric (reduce to the binary
    // rates exactly when t = 0)
    val winA = (w1 + w2 + 0.5 * t) / nd
    val pf = (w1 + 0.5 * t1) / n1
    val ps = (w2 + 0.5 * t2) / n2
    // Bernoulli position test over decisive rows only
    val pfB = w1.toDouble / nt1
    val psB = w2.toDouble / nt2
    val effect = pfB - psB
    val winNT = (w1 + w2).toDouble / (nt1 + nt2)
    val seP = math.sqrt(winNT * (1.0 - winNT)
      * (1.0 / nt1 + 1.0 / nt2))
    val (zP, pP) =
      if (seP > 0.0) {
        val z0 = effect / seP
        (z0, math.min(1.0, Num.erfcc(math.abs(z0) / math.sqrt(2.0))))
      } else (0.0, if (effect == 0.0) 1.0 else 0.0)
    val (sw, sww, sd, sdd, swd) = (agg.getDouble(7), agg.getDouble(8),
      agg.getDouble(9), agg.getDouble(10), agg.getDouble(11))
    // Pearson(aw, len delta) — with ties aw ∈ {0, ½, 1}, so Σaw²
    // rides the aggregate (aw² = aw only in the binary case)
    val varW = sww - sw * sw / nd
    val varD = sdd - sd * sd / nd
    val r =
      if (varW > 0.0 && varD > 0.0)
        (swd - sw * sd / nd) / math.sqrt(varW * varD)
      else 0.0
    val (zL, pL) =
      if (n > 2 && r > -1.0 && r < 1.0 && r != 0.0) {
        val z0 = r * math.sqrt(nd - 2.0) / math.sqrt(1.0 - r * r)
        (z0, math.min(1.0, Num.erfcc(math.abs(z0) / math.sqrt(2.0))))
      } else (0.0, 1.0)
    val spark = pairs.sparkSession
    import spark.implicits._
    Seq((n, Num.round9(winA), Num.round9(pf), Num.round9(ps),
      Num.round9(effect), Num.round9(zP), Num.round9(pP),
      Num.round9((pf + ps) / 2.0),
      Num.round9(r), Num.round9(zL), Num.round9(pL),
      Num.round9(t / nd)))
      .toDF("n", "win_a", "win_a_first", "win_a_second",
        "position_effect", "position_z", "position_p",
        "debiased_win_a", "len_r", "len_z", "len_p", "tie_rate")
  }

  /** Adapter from a ROUTER LOG to the scalar propensities the OPE trio
    * consumes — real LLM-routing logs don't carry (pb, pt) columns;
    * they carry the candidate list the router saw and the softmax
    * vectors of the logging and candidate policies over it. This op
    * looks the logged action up in the candidate list
    * (`array_position`) and extracts that index from both probability
    * vectors into `outBehaviorCol`/`outTargetCol`, making
    * [[offPolicyEval]] / [[doublyRobustEval]] / [[offPolicyEvalBySlice]]
    * drop-in on raw logs. Hygiene is DELEGATED, not duplicated: an
    * action missing from its candidate list, or a probability vector
    * whose length disagrees with the candidate list, maps to NULL
    * propensities — the estimators' own riding census then refuses
    * with row counts, so the adapter adds ZERO scans of its own (a
    * projection stays a projection).
    *
    * Scale shape: pure row-wise column arithmetic (whole-stage
    * codegen); no shuffle, no aggregate, no state.
    */
  def routerPropensities(log: DataFrame, actionCol: String,
                         candidatesCol: String, behaviorProbsCol: String,
                         targetProbsCol: String,
                         outBehaviorCol: String = "pb",
                         outTargetCol: String = "pt"): DataFrame = {
    val idx = array_position(col(candidatesCol), col(actionCol))
    val okShape = idx > 0 &&
      size(col(behaviorProbsCol)) === size(col(candidatesCol)) &&
      size(col(targetProbsCol)) === size(col(candidatesCol))
    log
      .withColumn(outBehaviorCol,
        when(okShape, element_at(col(behaviorProbsCol), idx.cast("int"))))
      .withColumn(outTargetCol,
        when(okShape, element_at(col(targetProbsCol), idx.cast("int"))))
  }

  /** Paired-bootstrap confidence interval on the ACCURACY DELTA of two
    * models over the same holdout — [[mcnemarTest]] answers "is the
    * difference real", this answers "how big is it": per row
    * x = 1{A correct} − 1{B correct} ∈ {−1, 0, 1}, and the
    * [[bootstrapMeanCI]] machinery (one aggregate pass, B Poisson(1)
    * generated-column reweightings, SQL-replayable md5 draws,
    * percentile CI) runs on x. PAIRED by construction: each replicate
    * reweights the same rows for both models, so shared-row noise
    * cancels — the correct resampling for comparing models on one
    * holdout. A CI excluding 0 = the delta survives resampling.
    * Output = bootstrapMeanCI's row: (n, mean, se, ci_lo, ci_hi)
    * where mean = acc_a − acc_b exactly. Null-label hygiene without an
    * extra corpus pass: a null label maps its delta to NULL here (the
    * null-safe `<=>` alone would score null-vs-null as agreement), so
    * [[bootstrapMeanCI]]'s EXISTING null-value scan — a pass it makes
    * regardless — is the refusal; null predictions against non-null
    * labels score wrong.
    */
  def pairedBootstrapDelta(scored: DataFrame, labelCol: String,
                           predACol: String, predBCol: String,
                           idCol: String, replicates: Int = 200,
                           alpha: Double = 0.05): DataFrame = {
    val okA = (col(labelCol).cast("string") <=> col(predACol).cast("string"))
    val okB = (col(labelCol).cast("string") <=> col(predBCol).cast("string"))
    val delta = when(col(labelCol).isNull, lit(null))
      .otherwise((okA.cast("int") - okB.cast("int")).cast("double"))
    bootstrapMeanCI(scored.select(col(idCol), delta.as("__delta")),
      "__delta", idCol, replicates, alpha)
  }
}
