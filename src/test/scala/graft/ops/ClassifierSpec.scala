package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Hashed-feature logistic regression ([[Classifier]]): the learned
  * quality-filter machinery (fastText-style linear classifier on hashed
  * unigrams, distributed full-batch GD).
  */
class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  test("erfcc: tracks full-precision erfc within the published 1.2e-7; chi2P1 sane") {
    // independent ground truth: commons-math3's erfc (1e-15 class),
    // already on the Spark classpath — the NR fit must hold its
    // documented fractional-error bound across the whole useful range
    (0 to 60).map(_ * 0.1).foreach { x =>
      val want = org.apache.commons.math3.special.Erf.erfc(x)
      val got = Num.erfcc(x)
      assert(math.abs(got - want) <= 1.3e-7 * math.max(1.0, want.abs) +
        1e-12, s"erfcc($x): $got vs $want")
      // negative branch: erfc(-x) = 2 - erfc(x) (x = 0 stays on the
      // nonnegative branch — -0.0 >= 0)
      if (x > 0) assert(Num.erfcc(-x) === 2.0 - got)
    }
    // chi2P1: p(0) clamps to exactly 1; strictly decreasing in stat
    assert(Num.chi2P1(0.0) === 1.0)
    val ps = Seq(0.5, 1.0, 2.0, 3.84, 6.63, 10.8).map(Num.chi2P1)
    assert(ps.zip(ps.tail).forall { case (a, b) => a > b })
    // the textbook 5% critical value of chi2_1 is 3.841
    assert(math.abs(Num.chi2P1(3.841459) - 0.05) < 1e-4)
    // cross-form parity: the Column evaluation (the streaming A/B
    // monitor's path) folds the SAME shared coefficient source as the
    // scalar — but Spark codegen's exp is StrictMath while the scalar
    // uses the Math intrinsic, so the guarantee is ≤ 1 ulp, not bit
    // identity (measured: exactly 1 ulp at e.g. x = 2.9; round(9)
    // absorbs it everywhere p-values are emitted)
    import spark.implicits._
    val xs = (0 to 60).map(_ * 0.1)
    val colVals = xs.toDF("x")
      .select(Num.erfccCol(col("x")).as("e")).collect().map(_.getDouble(0))
    xs.zip(colVals).foreach { case (x, got) =>
      val want = Num.erfcc(x)
      assert(math.abs(got - want) <= math.ulp(want),
        s"erfccCol($x) = $got vs scalar $want — beyond 1 ulp")
    }
  }

  test("learns a separable vocabulary split to holdout accuracy 1.0") {
    val docs = (0L until 400L).map { i =>
      if (i % 2 == 0) (i, "alpha beta gamma alpha beta useful dense signal", 1)
      else (i, "omega zeta noise noise filler omega drivel zeta", 0)
    }.toDF("doc_id", "text", "label")
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val hold = docs.filter(col("doc_id") % 5 === 0)
    val m = Classifier.trainHashedLR(train, "text", "label",
      buckets = 1 << 12, iters = 40, lr = 2.0)
    val scored = Classifier.scoreHashedLR(hold, "text", m)
    val acc = scored
      .select(((col("quality_score") >= 0.5).cast("int") === col("label"))
        .cast("double").as("ok"))
      .agg(avg("ok")).head().getDouble(0)
    assert(acc === 1.0, s"separable data must classify perfectly: $acc")
    // positive class scores strictly dominate
    val byLabel = scored.groupBy("label")
      .agg(min("quality_score").as("lo"), max("quality_score").as("hi"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(byLabel(1)._1 > byLabel(0)._2)
  }

  test("null/empty text scores the length-slot prior; keepAbove filters") {
    val docs = Seq((0L, "alpha alpha", 1), (1L, null.asInstanceOf[String], 0),
      (2L, "   ", 0)).toDF("doc_id", "text", "label")
    val m = Classifier.trainHashedLR(docs, "text", "label",
      buckets = 64, iters = 5)
    val out = Classifier.scoreHashedLR(docs, "text", m).orderBy("doc_id")
      .select("quality_score").collect().map(_.getDouble(0))
    // a token-less doc has only the dense length slots: 1/(1+0)=1 and 0
    val expected = 1.0 / (1.0 + math.exp(-(m.bias + m.weights(m.buckets))))
    assert(math.abs(out(1) - expected) < 1e-12)
    assert(out(1) === out(2)) // token-less == null: same features
    assert(Classifier.keepAbove(
      Classifier.scoreHashedLR(docs, "text", m), 2.0).count() === 0)
  }

  test("model frame round-trips to identical scores") {
    val docs = Seq((0L, "alpha beta", 1), (1L, "omega zeta", 0))
      .toDF("doc_id", "text", "label")
    val m = Classifier.trainHashedLR(docs, "text", "label",
      buckets = 256, iters = 10)
    val back = Classifier.modelFromDf(Classifier.modelDf(spark, m))
    assert(back.bias === m.bias)
    assert(back.weights.toSeq === m.weights.toSeq)
    val a = Classifier.scoreHashedLR(docs, "text", m)
      .select("quality_score").collect().map(_.getDouble(0)).toSeq
    val b = Classifier.scoreHashedLR(docs, "text", back)
      .select("quality_score").collect().map(_.getDouble(0)).toSeq
    assert(a === b)
  }

  test("scoreColumn matches a driver-side featurizeWords reference to 1e-12") {
    // scoreHashedLR IS scoreColumn now, so the cross-implementation check
    // pits the Column algebra (conv(md5) buckets, aggregate() dot product)
    // against an independent driver-side reference: featurizeWords on the
    // same Spark-tokenized words + a plain JVM dot product
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").limit(100)
      .withColumn("label", (length(col("text")) > 300).cast("int"))
    val m = Classifier.trainHashedLR(docs, "text", "label",
      buckets = 1 << 10, iters = 20)
    val b = Classifier.scoreHashedLR(docs, "text", m)
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val a = docs.select(col("doc_id"),
        TextAnalysis.nonEmptyTokens(col("text")).as("w"))
      .collect().map { r =>
        var dot = m.bias
        Classifier.featurizeWords(r.getSeq[String](1), m.buckets)
          .foreach { case (i, v) => dot += m.weights(i) * v }
        r.getLong(0) -> 1.0 / (1.0 + math.exp(-dot))
      }.toMap
    assert(a.keySet === b.keySet)
    // per-token vs per-bucket summation order differs by ~1 ulp
    a.foreach { case (id, s) =>
      assert(math.abs(s - b(id)) < 1e-12, s"doc $id: $s vs ${b(id)}") }
    // null/empty text score the length-slot prior, identically
    val edge = Seq((1L, null.asInstanceOf[String]), (2L, " ")).toDF("doc_id", "text")
    val prior = 1.0 / (1.0 + math.exp(-(m.bias + m.weights(m.buckets))))
    val eb = edge.select(Classifier.scoreColumn(col("text"), m))
      .collect().map(_.getDouble(0)).toSeq
    eb.foreach(s => assert(math.abs(s - prior) < 1e-12, s"$s vs $prior"))
    assert(eb(0) === eb(1))
  }

  test("distills the stopword-ratio heuristic on the real corpus (the q_ shape)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .withColumn("__r", TextAnalysis.stopwordRatio(col("text")))
    val med = docs.agg(expr("percentile(__r, 0.5)")).head().getDouble(0)
    val labeled = docs.withColumn("label", (col("__r") > med).cast("int"))
    val train = labeled.filter(
      Sampling.hashBucket(col("doc_id")) < lit(Sampling.thresholdHex(0.8)))
    val hold = labeled.filter(
      Sampling.hashBucket(col("doc_id")) >= lit(Sampling.thresholdHex(0.8)))
    val m = Classifier.trainHashedLR(train, "text", "label",
      buckets = 1 << 12, iters = 300, lr = 1.0)
    val scored = Classifier.scoreHashedLR(hold, "text", m)
    val r = scored.agg(
      avg(((col("quality_score") >= 0.5).cast("int") === col("label"))
        .cast("double")).as("acc"),
      avg(col("label").cast("double")).as("pos")).head()
    val (acc, pos) = (r.getDouble(0), r.getDouble(1))
    // measured 0.777 (train 0.834) — the saturating distinct-stopword
    // numerator caps what a linear model can recover; 0.70 is the floor
    // with margin for partitioning-induced float drift
    assert(acc >= 0.70, s"holdout accuracy floor: $acc")
    assert(acc > math.max(pos, 1 - pos), s"beats majority: $acc vs $pos")
  }

  test("classificationReport: hand-computed confusion, asymmetric classes, nulls") {
    import spark.implicits._
    // label a: 3 rows (2 predicted a, 1 predicted b)
    // label b: 2 rows (both predicted c) — b is also over-predicted
    // class c: never labeled, predicted twice -> support 0, precision 0
    // one null prediction reports as __null__
    val scored = Seq(
      ("a", "a"), ("a", "a"), ("a", "b"),
      ("b", "c"), ("b", "c"),
      ("a", null.asInstanceOf[String]))
      .toDF("label", "pred")
    val out = Classifier.classificationReport(scored, "label", "pred")
      .orderBy("cls").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    // a: support 4 (incl. the null-pred row), predicted 2, tp 2
    val pA = 2.0 / 2; val rA = 2.0 / 4
    assert(out("a") === ((4L, 2L, 2L, pA, rA,
      math.rint(2 * pA * rA / (pA + rA) * 1e9) / 1e9)))
    assert(out("b") === ((2L, 1L, 0L, 0.0, 0.0, 0.0)))
    assert(out("c") === ((0L, 2L, 0L, 0.0, 0.0, 0.0)))
    assert(out("__null__") === ((0L, 1L, 0L, 0.0, 0.0, 0.0)))
    // __all__: micro accuracy 2/6
    val acc = math.rint(2.0 / 6 * 1e9) / 1e9
    assert(out("__all__") === ((6L, 6L, 2L, acc, acc, acc)))
  }

  test("cohenKappa: hand case, perfect/constant degenerates, null labels") {
    import spark.implicits._
    // the classic 2x2 worked example: po = 0.7, marginals A(yes)=0.5,
    // B(yes)=0.6 -> pe = 0.5*0.6 + 0.5*0.4 = 0.5 -> kappa = 0.4
    val rated = (Seq.fill(4)(("y", "y")) ++ Seq.fill(1)(("y", "n")) ++
      Seq.fill(2)(("n", "y")) ++ Seq.fill(3)(("n", "n")))
      .toDF("ra", "rb")
    val r = Classifier.cohenKappa(rated, "ra", "rb").head()
    assert(r.getLong(0) === 10L)
    assert(r.getDouble(1) === 0.7)
    assert(r.getDouble(2) === 0.5)
    assert(math.abs(r.getDouble(3) - 0.4) < 1e-9)
    // both raters constant and identical: pe = 1, po = 1 -> kappa 1
    val const = Classifier.cohenKappa(
      Seq(("x", "x"), ("x", "x")).toDF("ra", "rb"), "ra", "rb").head()
    assert((const.getDouble(1), const.getDouble(2), const.getDouble(3))
      === ((1.0, 1.0, 1.0)))
    // null ratings are the __null__ category, and agree with each other
    val withNull = Classifier.cohenKappa(
      Seq((null.asInstanceOf[String], null.asInstanceOf[String]),
        ("a", "a"), ("a", "b")).toDF("ra", "rb"), "ra", "rb").head()
    assert(math.abs(withNull.getDouble(1) - 2.0 / 3) < 1e-9)
  }

  test("gwetAC1: hand case, kappa-paradox skew, relabeling invariance, degenerate") {
    import spark.implicits._
    // hand case: 8 agree on "0", 1 agrees on "1", 1 disagreement
    //   po = 0.9; marginals A = (.8, .2), B = (.9, .1)
    //   π = (.85, .15) -> pe = 2·(.85·.15)/(2−1) = 0.255
    //   AC1 = (.9 − .255)/.745 = 0.865771812…
    val rated = (Seq.fill(8)(("0", "0")) ++ Seq(("1", "1"), ("1", "0")))
      .toDF("ra", "rb")
    val r = Classifier.gwetAC1(rated, "ra", "rb").head()
    assert(r.getLong(0) === 10L)
    assert(r.getDouble(1) === 0.9)
    assert(math.abs(r.getDouble(2) - 0.255) < 1e-9)
    assert(math.abs(r.getDouble(3) - 0.645 / 0.745) < 1e-9)
    // the kappa paradox: 99% raw agreement on a 99/1 label mix scores
    // kappa = 0 (pe = .99 exactly) while AC1 stays near 1 — the reason
    // this operator exists
    val skew = (Seq.fill(99)(("0", "0")) ++ Seq(("1", "0"))).toDF("ra", "rb")
    val k = Classifier.cohenKappa(skew, "ra", "rb").head()
    assert(k.getDouble(3) === 0.0)
    val a1 = Classifier.gwetAC1(skew, "ra", "rb").head()
    // π = (.995, .005), pe = 2·(.995·.005) = .00995,
    // AC1 = (.99 − .00995)/(1 − .00995) = 0.989949…
    assert(math.abs(a1.getDouble(2) - 0.00995) < 1e-9)
    assert(a1.getDouble(3) > 0.98)
    // category relabeling leaves po/pe/ac1 fixed (only names change)
    val relabeled = skew.select(
      concat(lit("cat_"), col("ra")).as("ra"),
      concat(lit("cat_"), col("rb")).as("rb"))
    val a2 = Classifier.gwetAC1(relabeled, "ra", "rb").head()
    assert(a2.getDouble(1) === a1.getDouble(1))
    assert(a2.getDouble(2) === a1.getDouble(2))
    assert(a2.getDouble(3) === a1.getDouble(3))
    // both raters constant and identical: K = 1 -> 1.0 by convention
    val const = Classifier.gwetAC1(
      Seq(("x", "x"), ("x", "x")).toDF("ra", "rb"), "ra", "rb").head()
    assert(const.getDouble(3) === 1.0)
    // nulls are the __null__ category (the cohenKappa convention)
    val withNull = Classifier.gwetAC1(
      Seq((null.asInstanceOf[String], null.asInstanceOf[String]),
        ("a", "a"), ("a", "b")).toDF("ra", "rb"), "ra", "rb").head()
    assert(math.abs(withNull.getDouble(1) - 2.0 / 3) < 1e-9)
  }

  test("fleissKappa: Fleiss-style hand case, unbalanced panel refuses") {
    import spark.implicits._
    // 4 items x 3 raters, 2 labels; per-item counts (3,0),(2,1),(2,1),
    // (1,2): P_i = (9-3)/6, (5-3)/6, (5-3)/6, (5-3)/6 -> P̄ = 0.5
    // p_a = 8/12, p_b = 4/12 -> Pe = 4/9+1/9 = 5/9 -> κ = -1/8
    val ratings = Seq(
      (1, "a"), (1, "a"), (1, "a"),
      (2, "a"), (2, "a"), (2, "b"),
      (3, "a"), (3, "a"), (3, "b"),
      (4, "a"), (4, "b"), (4, "b")).toDF("item", "rating")
    val r = Classifier.fleissKappa(ratings, "item", "rating").head()
    assert((r.getLong(0), r.getLong(1)) === ((4L, 3L)))
    assert(math.abs(r.getDouble(2) - 0.5) < 1e-9)
    assert(math.abs(r.getDouble(3) - 5.0 / 9) < 1e-9)
    assert(math.abs(r.getDouble(4) - (0.5 - 5.0 / 9) / (1 - 5.0 / 9))
      < 1e-9)
    // an item with a different rating count refuses loudly
    val e = intercept[IllegalArgumentException](Classifier.fleissKappa(
      ratings.unionByName(Seq((5, "a")).toDF("item", "rating")),
      "item", "rating"))
    assert(e.getMessage.contains("same"), e.getMessage)
    // single-rater panels are undefined too
    intercept[IllegalArgumentException](Classifier.fleissKappa(
      Seq((1, "a"), (2, "b")).toDF("item", "rating"), "item", "rating"))
  }

  test("calibrationReport: hand bins, ECE, boundary score, refusals") {
    import spark.implicits._
    // bin 0: scores .05/.05 labels 0,1 -> conf .05, acc .5, gap .45
    // bin 9: scores .95/1.0 labels 1,1 -> conf .975, acc 1, gap .025
    // ECE = (2/4)*.45 + (2/4)*.025 = 0.2375
    val scored = Seq((0.05, 0.0), (0.05, 1.0), (0.95, 1.0), (1.0, 1.0))
      .toDF("score", "label")
    val out = Classifier.calibrationReport(scored, "score", "label")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out.keySet === Set(0, 9, -1))
    assert(out(0) === ((2L, 0.05, 0.5, 0.45)))
    assert(out(9) === ((2L, 0.975, 1.0, 0.025)))
    assert(out(-1)._1 === 4L)
    assert(math.abs(out(-1)._4 - 0.2375) < 1e-9)
    // out-of-range score / non-binary label / NaN refuse loudly
    for (bad <- Seq((1.5, 1.0), (-0.1, 0.0), (0.5, 2.0),
        (Double.NaN, 0.0))) {
      intercept[IllegalArgumentException](Classifier.calibrationReport(
        scored.unionByName(Seq(bad).toDF("score", "label")),
        "score", "label"))
    }
    intercept[IllegalArgumentException](
      Classifier.calibrationReport(scored, "score", "label", bins = 1))
  }

  test("krippendorffAlpha: hand case, singleton exclusion, degenerates") {
    import spark.implicits._
    // 3 usable items, unbalanced: i1 = (a,a), i2 = (a,b,b), i3 = (b,b);
    // i4 has ONE rating -> excluded. n = 7 usable ratings.
    // Do = [ (4-4)/1 + (9-5)/2 + (4-4)/1 ] / 7 = 2/7
    // totals over usable: a = 3, b = 4 -> De = (49-25)/(7*6) = 24/42
    // alpha = 1 - (2/7)/(4/7) = 0.5
    val ratings = Seq(
      (1, "a"), (1, "a"),
      (2, "a"), (2, "b"), (2, "b"),
      (3, "b"), (3, "b"),
      (4, "a")).toDF("item", "rating")
    val r = Classifier.krippendorffAlpha(ratings, "item", "rating").head()
    assert((r.getLong(0), r.getLong(1)) === ((3L, 7L)))
    assert(math.abs(r.getDouble(2) - 2.0 / 7) < 1e-9)
    assert(math.abs(r.getDouble(3) - 4.0 / 7) < 1e-9)
    assert(math.abs(r.getDouble(4) - 0.5) < 1e-9)
    // perfect agreement -> Do = 0, alpha = 1
    val perfect = Classifier.krippendorffAlpha(
      Seq((1, "x"), (1, "x"), (2, "y"), (2, "y")).toDF("item", "rating"),
      "item", "rating").head()
    assert(perfect.getDouble(4) === 1.0)
    // one label category everywhere: De = 0 -> alpha = 1 by convention
    val oneCat = Classifier.krippendorffAlpha(
      Seq((1, "x"), (1, "x"), (2, "x"), (2, "x")).toDF("item", "rating"),
      "item", "rating").head()
    assert((oneCat.getDouble(3), oneCat.getDouble(4)) === ((0.0, 1.0)))
    // all-singleton panel refuses
    intercept[IllegalArgumentException](Classifier.krippendorffAlpha(
      Seq((1, "a"), (2, "b")).toDF("item", "rating"), "item", "rating"))
    // null ratings are a category that can agree
    val n = Classifier.krippendorffAlpha(
      Seq((1, null.asInstanceOf[String]), (1, null.asInstanceOf[String]))
        .toDF("item", "rating"), "item", "rating").head()
    assert(n.getDouble(4) === 1.0)
  }

  test("splitConformal: order statistic, coverage, refusals") {
    import spark.implicits._
    // 9 calibration scores 0.1..0.9; alpha 0.2 -> k = ceil(10*0.8) = 8
    // -> threshold = 8th smallest = 0.8
    val cal = (1 to 9).map(i => i / 10.0).toDF("s")
    val tst = Seq(0.05, 0.5, 0.8, 0.85).toDF("s")
    val r = Classifier.splitConformal(cal, "s", tst, "s", alpha = 0.2)
      .head()
    assert((r.getLong(0), r.getLong(1)) === ((9L, 8L)))
    assert(r.getDouble(2) === 0.8)
    assert(r.getLong(3) === 4L)
    assert(r.getDouble(4) === 0.75) // 3 of 4 <= 0.8
    // k > n refuses: n = 2, alpha = 0.1 -> k = ceil(2.7) = 3 > 2
    intercept[IllegalArgumentException](Classifier.splitConformal(
      cal.limit(2), "s", tst, "s", alpha = 0.1))
    // corpus-sized calibration refuses with the sampling pointer
    val e = intercept[IllegalArgumentException](Classifier.splitConformal(
      cal, "s", tst, "s", alpha = 0.2, maxCalibration = 3))
    assert(e.getMessage.contains("sample"), e.getMessage)
    // NaN / null scores refuse on either side
    intercept[IllegalArgumentException](Classifier.splitConformal(
      cal.unionByName(Seq(Double.NaN).toDF("s")), "s", tst, "s"))
    intercept[IllegalArgumentException](Classifier.splitConformal(
      cal, "s", tst.unionByName(Seq(Double.NaN).toDF("s")), "s",
      alpha = 0.2))
    intercept[IllegalArgumentException](
      Classifier.splitConformal(cal, "s", tst, "s", alpha = 0.0))
    intercept[IllegalArgumentException](Classifier.splitConformal(
      cal.filter(lit(false)), "s", tst, "s", alpha = 0.2))
    // empirical coverage meets the guarantee on an exchangeable draw:
    // scores 1..100, alpha 0.1 -> k = ceil(101*.9) = 91 -> t = 91;
    // coverage on the same distribution = 91/100 >= 0.9
    val big = (1 to 100).map(_.toDouble).toDF("s")
    val g = Classifier.splitConformal(big, "s", big, "s", alpha = 0.1)
      .head()
    assert(g.getDouble(2) === 91.0 && g.getDouble(4) === 0.91)
  }

  test("boundedPrefix above the cutoff: bit-equal to the sequential strictly-below sum") {
    import org.apache.spark.sql.expressions.Window
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // more distinct keys than smallCutoff (4096), ±Inf included, integer
    // weights with many repeats (a LONG and a DOUBLE column), spread over
    // several partitions
    val gen = Gen.zip(Gen.choose(4200, 6000), Gen.choose(4, 9), Gen.choose(0L, 1L << 40))
    val prop = Prop.forAllNoShrink(gen) { case (n, parts, seed) =>
      val rnd = new scala.util.Random(seed)
      val keys = (Seq(Double.NegativeInfinity, Double.PositiveInfinity) ++
        Seq.fill(n)(rnd.nextGaussian() * 1e3)).distinct
      val per = keys.map(k => (k, rnd.nextInt(4) * 1000003L, rnd.nextInt(3).toDouble))
        .toDF("k", "cnt", "nn").repartition(parts)
      val got = Classifier.boundedPrefix(per, "k",
        Seq("cnt" -> "below_cnt", "nn" -> "below_nn"), distinctCount = keys.size)
      val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
      val want = per.select(col("*"),
        coalesce(sum(col("cnt").cast("double")).over(w), lit(0.0)).as("below_cnt"),
        coalesce(sum(col("nn").cast("double")).over(w), lit(0.0)).as("below_nn"))
      def bits(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getDouble(0), r.getLong(1), r.getDouble(2),
          java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
          java.lang.Double.doubleToRawLongBits(r.getDouble(4))))
        .sortBy(_._1)(Ordering.Double.TotalOrdering).toSeq
      got.columns.toSeq == want.columns.toSeq &&
        !got.queryExecution.executedPlan.toString.contains("Window") &&
        bits(got) == bits(want)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(3), prop)
    assert(res.passed, res.status.toString)
  }

  test("rocAuc: hand AUC with ties, perfect/inverted/random, binned mode") {
    import spark.implicits._
    // scores: pos {0.9, 0.7, 0.5}, neg {0.7, 0.3}; pairs = 6:
    // wins (pos>neg): 0.9>0.7, 0.9>0.3, 0.7>0.3, 0.5>0.3 = 4
    // tie: (0.7, 0.7) = 0.5 -> AUC = 4.5/6 = 0.75
    val scored = Seq((0.9, 1.0), (0.7, 1.0), (0.5, 1.0),
      (0.7, 0.0), (0.3, 0.0)).toDF("s", "y")
    val r = Classifier.rocAuc(scored, "s", "y").head()
    assert((r.getLong(0), r.getLong(1)) === ((3L, 2L)))
    assert(r.getDouble(2) === 0.75)
    // perfect separation -> 1; inverted -> 0; identical scores -> 0.5
    def auc(rows: Seq[(Double, Double)]) =
      Classifier.rocAuc(rows.toDF("s", "y"), "s", "y").head().getDouble(2)
    assert(auc(Seq((0.9, 1.0), (0.1, 0.0))) === 1.0)
    assert(auc(Seq((0.1, 1.0), (0.9, 0.0))) === 0.0)
    assert(auc(Seq((0.5, 1.0), (0.5, 0.0))) === 0.5)
    // binned mode quantizes then runs the same tie-exact formula: with
    // 2 bins, 0.9/0.7 -> bin 1, 0.3/0.2 -> bin 0
    val b = Classifier.rocAuc(
      Seq((0.9, 1.0), (0.7, 0.0), (0.3, 1.0), (0.2, 0.0)).toDF("s", "y"),
      "s", "y", bins = Some(2)).head()
    // bin1: 1 pos 1 neg; bin0: 1 pos 1 neg -> wins 1 (bin1pos>bin0neg),
    // ties 2 (within-bin), loss 1 -> AUC = (1 + 1)/4 = 0.5
    assert(b.getDouble(2) === 0.5)
    // single class / bad labels / NaN / out-of-range binned refuse
    intercept[IllegalArgumentException](
      Classifier.rocAuc(Seq((0.5, 1.0)).toDF("s", "y"), "s", "y"))
    intercept[IllegalArgumentException](Classifier.rocAuc(
      Seq((0.5, 2.0)).toDF("s", "y"), "s", "y"))
    intercept[IllegalArgumentException](Classifier.rocAuc(
      Seq((Double.NaN, 1.0)).toDF("s", "y"), "s", "y"))
    intercept[IllegalArgumentException](Classifier.rocAuc(
      Seq((1.5, 1.0), (0.1, 0.0)).toDF("s", "y"), "s", "y",
      bins = Some(4)))
  }

  test("isotonicCalibration: PAV hand case, pooling, bounds, refusals") {
    import spark.implicits._
    // per-score means: 0.1->1, 0.2->0, 0.3->1 — the 1,0 violation pools
    // to mean 0.5, then 0.5 <= 1 stands: steps (0.1-0.2: 0.5), (0.3: 1)
    val scored = Seq((0.1, 1.0), (0.2, 0.0), (0.3, 1.0)).toDF("s", "y")
    val steps = Classifier.isotonicCalibration(scored, "s", "y")
      .orderBy("score_lo").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3)))
    assert(steps.toSeq === Seq((0.1, 0.2, 2L, 0.5), (0.3, 0.3, 1L, 1.0)))
    // already-monotone data is untouched (one pool per score)
    val mono = Classifier.isotonicCalibration(
      Seq((0.1, 0.0), (0.2, 1.0)).toDF("s", "y"), "s", "y")
      .orderBy("score_lo").collect().map(_.getDouble(3)).toSeq
    assert(mono === Seq(0.0, 1.0))
    // fully decreasing data pools to one global mean
    val dec = Classifier.isotonicCalibration(
      Seq((0.1, 1.0), (0.2, 1.0), (0.3, 0.0), (0.4, 0.0)).toDF("s", "y"),
      "s", "y").collect()
    assert(dec.length === 1)
    assert((dec(0).getDouble(0), dec(0).getDouble(1),
      dec(0).getLong(2), dec(0).getDouble(3)) === ((0.1, 0.4, 4L, 0.5)))
    // fitted is always within [0, 1] and nondecreasing on a mixed frame
    val mixed = (0 until 60).map(i =>
      ((i % 10) / 10.0, ((i * 7) % 3 min 1).toDouble)).toDF("s", "y")
    val f = Classifier.isotonicCalibration(mixed, "s", "y")
      .orderBy("score_lo").collect().map(_.getDouble(3)).toSeq
    assert(f === f.sorted && f.forall(x => x >= 0 && x <= 1))
    intercept[IllegalArgumentException](Classifier.isotonicCalibration(
      scored, "s", "y", maxDistinct = 2))
    intercept[IllegalArgumentException](Classifier.isotonicCalibration(
      Seq((0.1, 2.0)).toDF("s", "y"), "s", "y"))
    intercept[IllegalArgumentException](Classifier.isotonicCalibration(
      scored.filter(lit(false)), "s", "y"))
  }

  test("properScores: hand log-loss/Brier, Murphy identity on discrete forecasts, refusals") {
    import spark.implicits._
    // the no-information forecast: p = .5 on a balanced frame ->
    // brier .25, log_loss ln 2, rel 0 (forecast == outcome rate in
    // its bin), res 0 (one bin, ybar_b == ybar), unc .25 — and the
    // decomposition identity .25 = 0 - 0 + .25 holds exactly
    val flat = (0 until 100).map(i => (0.5, (i % 2).toDouble))
      .toDF("score", "label")
    val f = Classifier.properScores(flat, "score", "label").head()
    assert(f.getLong(0) === 100L)
    assert(math.abs(f.getDouble(1) - math.log(2.0)) < 1e-9)
    assert(f.getDouble(2) === 0.25)
    assert(f.getDouble(3) === 0.0 && f.getDouble(4) === 0.0)
    assert(f.getDouble(5) === 0.25)
    // discrete forecasts (each distinct p its own bin): Brier ==
    // reliability - resolution + uncertainty EXACTLY (Murphy 1973)
    val disc = (0 until 300).map { i =>
      val p = if (i % 3 == 0) 0.1 else 0.7
      (p, (if (i % (if (i % 3 == 0) 10 else 2) == 0) 1 else 0).toDouble)
    }.toDF("score", "label")
    val d = Classifier.properScores(disc, "score", "label").head()
    assert(math.abs(d.getDouble(2) -
      (d.getDouble(3) - d.getDouble(4) + d.getDouble(5))) < 1e-12,
      s"Murphy identity: ${d.getDouble(2)} vs ${d.getDouble(3)} - " +
        s"${d.getDouble(4)} + ${d.getDouble(5)}")
    // a sharp, correct model: brier 0, log_loss ~ -ln(1 - eps) -> 0
    val sharp = (0 until 50).map(i => ((i % 2).toDouble, (i % 2).toDouble))
      .toDF("score", "label")
    val sh = Classifier.properScores(sharp, "score", "label").head()
    assert(sh.getDouble(2) === 0.0 && sh.getDouble(1) === 0.0)
    assert(sh.getDouble(3) === 0.0)
    // hygiene rides the aggregate
    intercept[IllegalArgumentException](Classifier.properScores(
      Seq((1.5, 1.0), (0.2, 0.0)).toDF("score", "label"),
      "score", "label").count())
    intercept[IllegalArgumentException](
      Classifier.properScores(flat, "score", "label", bins = 1))
  }

  test("rocAucCI: hand Hanley-McNeil SE, perfect-separation degenerate, refusals") {
    import spark.implicits._
    // pos {.8, .4}, neg {.6, .2}: 3 of 4 pairs ordered -> A = .75
    val df = Seq((0.8, 1.0), (0.4, 1.0), (0.6, 0.0), (0.2, 0.0))
      .toDF("score", "label")
    val r = Classifier.rocAucCI(df, "score", "label").head()
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === 0.75)
    val a = 0.75
    val q1 = a / (2.0 - a); val q2 = 2.0 * a * a / (1.0 + a)
    val se = math.sqrt((a * (1 - a) + (q1 - a * a) + (q2 - a * a)) / 4.0)
    assert(math.abs(r.getDouble(3) - se) < 1e-9)
    assert(math.abs(r.getDouble(4) - math.max(0.0, a - 1.959964 * se)) < 1e-9)
    assert(math.abs(r.getDouble(5) - math.min(1.0, a + 1.959964 * se)) < 1e-9)
    // perfect separation: A = 1 -> Q1 = Q2 = 1, SE = 0, CI = [1, 1]
    val perfect = Classifier.rocAucCI(
      Seq((0.9, 1.0), (0.8, 1.0), (0.2, 0.0), (0.1, 0.0))
        .toDF("score", "label"), "score", "label").head()
    assert(perfect.getDouble(2) === 1.0 && perfect.getDouble(3) === 0.0)
    assert(perfect.getDouble(4) === 1.0 && perfect.getDouble(5) === 1.0)
    // < 2 rows of a class: the variance formula is undefined
    intercept[IllegalArgumentException](Classifier.rocAucCI(
      Seq((0.8, 1.0), (0.6, 0.0), (0.2, 0.0)).toDF("score", "label"),
      "score", "label"))
    intercept[IllegalArgumentException](
      Classifier.rocAucCI(df, "score", "label", z = 0.0))
  }

  test("deLongTest: brute-force placement parity, AUC cross-check, antisymmetry, degenerates") {
    import spark.implicits._
    // 30 rows with deliberate ties within and across classes
    val rows = (0 until 30).map { i =>
      (i.toLong, (i % 3 == 0 || i % 7 == 0), // ~40% positive
        ((i * 13) % 8) / 8.0, ((i * 11) % 5) / 5.0)
    }.map { case (id, p, sa, sb) => (id, if (p) 1.0 else 0.0, sa, sb) }
    val df = rows.toDF("id", "label", "sa", "sb")
    val r = Classifier.deLongTest(df, "label", "sa", "sb").head()
    // brute-force reference: placements per row, sample covariances
    val pos = rows.filter(_._2 == 1.0); val neg = rows.filter(_._2 == 0.0)
    val (np, nn) = (pos.size, neg.size)
    def v10(s: Double, of: Seq[Double]) =
      of.map(o => if (s > o) 1.0 else if (s == o) 0.5 else 0.0).sum / of.size
    def cols(f: ((Long, Double, Double, Double)) => Double) = {
      val vp = pos.map(t => v10(f(t), neg.map(f)))
      val vn = neg.map(t => 1.0 - v10(f(t), pos.map(f)))
      (vp, vn)
    }
    val (vpA, vnA) = cols(_._3); val (vpB, vnB) = cols(_._4)
    def mean(x: Seq[Double]) = x.sum / x.size
    def cov(x: Seq[Double], y: Seq[Double]) = {
      val (mx, my) = (mean(x), mean(y))
      x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum / (x.size - 1)
    }
    val aA = mean(vpA); val aB = mean(vpB)
    val variance =
      (cov(vpA, vpA) + cov(vpB, vpB) - 2 * cov(vpA, vpB)) / np +
      (cov(vnA, vnA) + cov(vnB, vnB) - 2 * cov(vnA, vnB)) / nn
    assert(r.getLong(0) === np.toLong && r.getLong(1) === nn.toLong)
    assert(math.abs(r.getDouble(2) - aA) < 1e-9, s"auc_a ${r.getDouble(2)} vs $aA")
    assert(math.abs(r.getDouble(3) - aB) < 1e-9)
    assert(math.abs(r.getDouble(5) - math.sqrt(variance)) < 1e-9,
      s"se ${r.getDouble(5)} vs ${math.sqrt(variance)}")
    assert(math.abs(r.getDouble(6) - (aA - aB) / math.sqrt(variance)) < 1e-6)
    // auc_a equals the standalone tie-exact rocAuc on the same column
    val auc = Classifier.rocAuc(df.select(col("sa").as("score"),
      col("label")), "score", "label").head().getDouble(2)
    assert(r.getDouble(2) === auc)
    // antisymmetry: swapping models negates delta and z, keeps se and p
    val sw = Classifier.deLongTest(df, "label", "sb", "sa").head()
    assert(sw.getDouble(4) === -r.getDouble(4))
    assert(sw.getDouble(5) === r.getDouble(5))
    assert(sw.getDouble(6) === -r.getDouble(6))
    assert(sw.getDouble(7) === r.getDouble(7))
    // the delta CI is the fixed-literal normal interval around the
    // UNROUNDED delta/se (r18): ci_lo <= delta <= ci_hi, symmetric
    assert(r.getDouble(8) <= r.getDouble(4) &&
      r.getDouble(4) <= r.getDouble(9))
    assert(math.abs(r.getDouble(8) -
      graft.ops.Num.round9((aA - aB) - 1.959964 * math.sqrt(variance))) < 1e-9)
    assert(math.abs(r.getDouble(9) -
      graft.ops.Num.round9((aA - aB) + 1.959964 * math.sqrt(variance))) < 1e-9)
    // identical models: var = 0 degenerate -> z 0, p 1, CI = [0, 0]
    val same = Classifier.deLongTest(
      df.select(col("label"), col("sa"), col("sa").as("sb")),
      "label", "sa", "sb").head()
    assert(same.getDouble(4) === 0.0 && same.getDouble(6) === 0.0 &&
      same.getDouble(7) === 1.0)
    assert(same.getDouble(8) === 0.0 && same.getDouble(9) === 0.0)
    // refusals: null score, single-class, < 2 per class, maxDistinct
    intercept[IllegalArgumentException](Classifier.deLongTest(
      df.select(col("label"), when(col("id") === 3, lit(null))
        .otherwise(col("sa")).as("sa"), col("sb")),
      "label", "sa", "sb").count())
    intercept[IllegalArgumentException](Classifier.deLongTest(
      df.select(lit(1.0).as("label"), col("sa"), col("sb")),
      "label", "sa", "sb"))
    intercept[IllegalArgumentException](Classifier.deLongTest(
      df.limit(3), "label", "sa", "sb"))
    intercept[IllegalArgumentException](Classifier.deLongTest(
      df, "label", "sa", "sb", maxDistinct = 3))
  }

  test("chiSquareIndependence: hand 2x2, zero cell, independence, refusal") {
    import spark.implicits._
    // classic 2x2: rows (10,20) / (20,10); n=60, all e=15
    // chi2 = 4 * 25/15 = 20/3; V = sqrt((20/3)/60)
    val df = (Seq.fill(10)(("x", "u")) ++ Seq.fill(20)(("x", "v")) ++
      Seq.fill(20)(("y", "u")) ++ Seq.fill(10)(("y", "v")))
      .toDF("a", "b")
    val r = Classifier.chiSquareIndependence(df, "a", "b").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      === ((60L, 2L, 2L, 1L)))
    assert(math.abs(r.getDouble(4) - 20.0 / 3) < 1e-9)
    assert(math.abs(r.getDouble(5) - math.sqrt(20.0 / 3 / 60)) < 1e-9)
    // an unobserved cell enters with o = 0 (its full expected count)
    val zc = Classifier.chiSquareIndependence(
      (Seq.fill(5)(("x", "u")) ++ Seq.fill(5)(("y", "v"))).toDF("a", "b"),
      "a", "b").head()
    assert(zc.getDouble(4) === 10.0) // perfect association: chi2 = n
    assert(zc.getDouble(5) === 1.0)  // Cramér's V = 1
    // exact independence -> chi2 = 0
    val ind = Classifier.chiSquareIndependence(
      (for (a <- Seq("x", "y"); b <- Seq("u", "v")) yield (a, b))
        .toDF("a", "b"), "a", "b").head()
    assert(ind.getDouble(4) === 0.0)
    intercept[IllegalArgumentException](Classifier.chiSquareIndependence(
      Seq(("x", "u"), ("x", "v")).toDF("a", "b"), "a", "b"))
  }

  test("twoProportionZ: hand z, sign order, degenerate pool, refusals") {
    import spark.implicits._
    // A: 30/100, B: 20/100 -> pool 0.25, se = sqrt(.25*.75*.02)
    val df = ((1 to 100).map(i => ("A", if (i <= 30) 1.0 else 0.0)) ++
      (1 to 100).map(i => ("B", if (i <= 20) 1.0 else 0.0))).toDF("g", "y")
    val r = Classifier.twoProportionZ(df, "g", "y").head()
    assert((r.getString(0), r.getString(1)) === (("A", "B")))
    assert((r.getLong(2), r.getLong(3)) === ((100L, 100L)))
    assert((r.getDouble(4), r.getDouble(5)) === ((0.3, 0.2)))
    val se = math.sqrt(0.25 * 0.75 * (1.0 / 100 + 1.0 / 100))
    assert(math.abs(r.getDouble(6) - 0.1 / se) < 1e-6)
    // groups order lexicographically, so the sign is deterministic:
    // relabeling flips it
    val flipped = Classifier.twoProportionZ(
      df.withColumn("g", when(col("g") === "A", "Z").otherwise("B")),
      "g", "y").head()
    assert(math.abs(flipped.getDouble(6) + r.getDouble(6)) < 1e-9)
    // the two-sided p follows the z^2 ~ chi2_1 identity
    val zr = r.getDouble(6)
    assert(math.abs(r.getDouble(7) - Num.chi2P1(zr * zr)) < 1e-6)
    // identical all-zero groups: pooled variance 0 -> z = 0, p = 1
    val z0 = Classifier.twoProportionZ(
      Seq(("A", 0.0), ("B", 0.0)).toDF("g", "y"), "g", "y").head()
    assert(z0.getDouble(6) === 0.0 && z0.getDouble(7) === 1.0)
    intercept[IllegalArgumentException](Classifier.twoProportionZ(
      Seq(("A", 1.0)).toDF("g", "y"), "g", "y"))
    intercept[IllegalArgumentException](Classifier.twoProportionZ(
      Seq(("A", 1.0), ("B", 0.0), ("C", 1.0)).toDF("g", "y"), "g", "y"))
    intercept[IllegalArgumentException](Classifier.twoProportionZ(
      Seq(("A", 2.0), ("B", 0.0)).toDF("g", "y"), "g", "y"))
  }

  test("regressionReport: hand metrics, perfect fit, constant target") {
    import spark.implicits._
    // preds (1,2,3) vs targets (2,2,5): errors (-1,0,-2)
    // MAE = 1, RMSE = sqrt(5/3); mean(y) = 3, SST = 1+1+4 = 6
    // R2 = 1 - 5/6; pearson of (1,2,3)/(2,2,5) = 3*sqrt(3/2)/sqrt(2*18... )
    val df = Seq((1.0, 2.0), (2.0, 2.0), (3.0, 5.0)).toDF("p", "t")
    val r = Classifier.regressionReport(df, "p", "t").head()
    assert(r.getLong(0) === 3L)
    assert(r.getDouble(1) === 1.0)
    assert(math.abs(r.getDouble(2) - math.sqrt(5.0 / 3)) < 1e-9)
    assert(math.abs(r.getDouble(3) - (1.0 - 5.0 / 6)) < 1e-9)
    // pearson: n=3 sxy=21 sx=6 sy=9 sxx=14 syy=33
    // (63-54)/sqrt((42-36)(99-81)) = 9/sqrt(108)
    assert(math.abs(r.getDouble(4) - 9.0 / math.sqrt(108)) < 1e-9)
    // a perfect predictor: MAE = RMSE = 0, R2 = pearson = 1
    val perfect = Classifier.regressionReport(
      Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0)).toDF("p", "t"), "p", "t")
      .head()
    assert((perfect.getDouble(1), perfect.getDouble(2),
      perfect.getDouble(3), perfect.getDouble(4)) === ((0.0, 0.0, 1.0, 1.0)))
    // constant target: no variance to explain -> R2 = pearson = 0
    val const = Classifier.regressionReport(
      Seq((1.0, 5.0), (2.0, 5.0)).toDF("p", "t"), "p", "t").head()
    assert((const.getDouble(3), const.getDouble(4)) === ((0.0, 0.0)))
    intercept[IllegalArgumentException](Classifier.regressionReport(
      Seq((Double.NaN, 1.0)).toDF("p", "t"), "p", "t"))
    intercept[IllegalArgumentException](Classifier.regressionReport(
      df.filter(lit(false)), "p", "t"))
  }

  test("spearmanCorrelation: monotone=1, ties averaged, anti-monotone=-1") {
    import spark.implicits._
    // any monotone (even non-linear) relation is exactly 1
    val mono = Seq((1.0, 10.0), (2.0, 100.0), (3.0, 101.0), (4.0, 5000.0))
      .toDF("a", "b")
    assert(Classifier.spearmanCorrelation(mono, "a", "b")
      .head().getDouble(1) === 1.0)
    val anti = Seq((1.0, 9.0), (2.0, 5.0), (3.0, 1.0)).toDF("a", "b")
    assert(Classifier.spearmanCorrelation(anti, "a", "b")
      .head().getDouble(1) === -1.0)
    // tie averaging: a = (1,2,2,3) ranks (1, 2.5, 2.5, 4); pair with
    // b = (1,2,3,4): classic rho = 1 - something — compute via pearson
    // of ranks by hand: ra=(1,2.5,2.5,4), rb=(1,2,3,4)
    // n=4 sx=10 sy=10 sxx=29.5 syy=30 sxy=29.5
    // rho = (118-100)/sqrt((118-100)(120-100)) = 18/sqrt(360)
    val tied = Seq((1.0, 1.0), (2.0, 2.0), (2.0, 3.0), (3.0, 4.0))
      .toDF("a", "b")
    val rho = Classifier.spearmanCorrelation(tied, "a", "b")
      .head().getDouble(1)
    assert(math.abs(rho - 18.0 / math.sqrt(360)) < 1e-9)
    // scale-invariance: spearman only sees ranks
    val scaled = Classifier.spearmanCorrelation(
      tied.select((col("a") * 1000).as("a"), (col("b") - 50).as("b")),
      "a", "b").head().getDouble(1)
    assert(scaled === rho)
    // constant side -> 0
    assert(Classifier.spearmanCorrelation(
      Seq((1.0, 7.0), (2.0, 7.0)).toDF("a", "b"), "a", "b")
      .head().getDouble(1) === 0.0)
    intercept[IllegalArgumentException](Classifier.spearmanCorrelation(
      Seq((Double.NaN, 1.0)).toDF("a", "b"), "a", "b"))
    // empty frame refuses as spearman (not a misattributed delegate)
    val e = intercept[IllegalArgumentException](
      Classifier.spearmanCorrelation(
        tied.filter(lit(false)), "a", "b"))
    assert(e.getMessage.contains("spearmanCorrelation"), e.getMessage)
    // continuous corpus-scale columns refuse BEFORE the rank broadcast
    val q = intercept[IllegalArgumentException](
      Classifier.spearmanCorrelation(tied, "a", "b", maxDistinct = 2))
    assert(q.getMessage.contains("quantize"), q.getMessage)
  }

  test("privacyAudit: hand classes, tuple boundaries, nulls, refusals") {
    import spark.implicits._
    // classes: (a,x):3 rows 2 sensitive; (a,y):1 row 1 sensitive;
    // (b,x):2 rows 1 sensitive
    val df = Seq(
      ("a", "x", "s1"), ("a", "x", "s1"), ("a", "x", "s2"),
      ("a", "y", "s1"),
      ("b", "x", "s3"), ("b", "x", "s3")).toDF("q1", "q2", "sens")
    val r = Classifier.privacyAudit(df, Seq("q1", "q2"), "sens",
      k = 2, l = 2).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((6L, 3L, 1L)))
    assert((r.getLong(3), r.getLong(4)) === ((1L, 1L))) // (a,y) below k
    assert((r.getLong(5), r.getLong(6)) === ((1L, 2L))) // (a,y),(b,x) < l
    // distinct tuples that CONCATENATE identically stay distinct
    // classes ("ab"+"c" vs "a"+"bc")
    val tricky = Classifier.privacyAudit(
      Seq(("ab", "c", "s"), ("a", "bc", "s")).toDF("q1", "q2", "sens"),
      Seq("q1", "q2"), "sens", k = 2, l = 1).head()
    assert(tricky.getLong(1) === 2L && tricky.getLong(3) === 2L)
    // null quasi values group as their own class; null sensitive is a
    // value
    val n = Classifier.privacyAudit(
      Seq((null.asInstanceOf[String], "x", null.asInstanceOf[String]),
        (null.asInstanceOf[String], "x", "s")).toDF("q1", "q2", "sens"),
      Seq("q1", "q2"), "sens", k = 2, l = 2).head()
    assert((n.getLong(1), n.getLong(5)) === ((1L, 2L)))
    // review-fixed: a null row and a row whose value IS the literal
    // string "__null__" are DIFFERENT classes — a sentinel would merge
    // them and hide a k-anonymity violation in the unsafe direction
    val sentinel = Classifier.privacyAudit(
      Seq(("__null__", "x", "s"), (null.asInstanceOf[String], "x", "s"))
        .toDF("q1", "q2", "sens"),
      Seq("q1", "q2"), "sens", k = 2, l = 1).head()
    assert(sentinel.getLong(1) === 2L && sentinel.getLong(3) === 2L)
    intercept[IllegalArgumentException](
      Classifier.privacyAudit(df, Seq(), "sens"))
    intercept[IllegalArgumentException](Classifier.privacyAudit(
      df.filter(lit(false)), Seq("q1"), "sens"))
  }

  test("sliceAccuracy: per-slice gaps, hidden weak slice, null slice") {
    import spark.implicits._
    // slice A: 3/4 correct; slice B: 1/4 -> overall 0.5
    val df = (Seq.fill(3)(("A", "y", "y")) ++ Seq(("A", "y", "n")) ++
      Seq(("B", "y", "y")) ++ Seq.fill(3)(("B", "y", "n")))
      .toDF("slice", "label", "pred")
    val got = Classifier.sliceAccuracy(df, "label", "pred", "slice")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got("A") === ((4L, 3L, 0.75, 0.25)))
    assert(got("B") === ((4L, 1L, 0.25, -0.25)))
    // null slice reports as __null__, null pred counts as wrong vs a
    // non-null label — even when the label is the LITERAL "__null__"
    // (null-safe equality, no sentinel collision)
    val n = Classifier.sliceAccuracy(
      Seq((null.asInstanceOf[String], "y", null.asInstanceOf[String]),
          (null.asInstanceOf[String], "__null__",
            null.asInstanceOf[String]))
        .toDF("slice", "label", "pred"),
      "label", "pred", "slice").head()
    assert(n.getString(0) === "__null__" && n.getLong(2) === 0L)
    // null labels refuse: un-scorable ground truth
    intercept[IllegalArgumentException](Classifier.sliceAccuracy(
      Seq(("A", null.asInstanceOf[String], "y"))
        .toDF("slice", "label", "pred"),
      "label", "pred", "slice"))
    intercept[IllegalArgumentException](Classifier.sliceAccuracy(
      df.filter(lit(false)), "label", "pred", "slice"))
  }

  test("sliceEval: batch-operator parity per slice, hidden weak slice, degenerates") {
    import spark.implicits._
    // one slice: must equal rocAuc(bins=8) + calibrationReport's ECE
    val rows = (0 until 200).map { i =>
      ("all", ((i % 2) * 300 + (i * 37 + 11) % 700) / 1024.0,
        (i % 2).toDouble)
    }
    val one = Classifier.sliceEval(rows.toDF("slice", "score", "label"),
      "score", "label", "slice", bins = 8).head()
    val auc = Classifier.rocAuc(rows.toDF("g", "score", "label")
      .select("score", "label"), "score", "label", bins = Some(8))
      .head().getDouble(2)
    val ece = Classifier.calibrationReport(rows.toDF("g", "score", "label")
      .select("score", "label"), "score", "label", bins = 8)
      .filter(col("bin") === -1).head().getDouble(4)
    assert(one.getLong(1) === 200L)
    assert(math.abs(one.getDouble(2) - auc) < 1e-9)
    assert(math.abs(one.getDouble(3) - ece) < 1e-9)
    // a hidden weak slice: healthy ranking in "web", INVERTED in "ocr"
    // — overall accuracy-style checks can't see this without a
    // threshold; the per-slice AUC nails it below 0.5
    val mixed = (0 until 100).map { i =>
      ("web", if (i % 2 == 1) 0.8 + (i % 5) / 100.0 else 0.2 + (i % 5) / 100.0,
        (i % 2).toDouble)
    } ++ (0 until 100).map { i =>
      ("ocr", if (i % 2 == 1) 0.2 + (i % 5) / 100.0 else 0.8 + (i % 5) / 100.0,
        (i % 2).toDouble)
    }
    val m = Classifier.sliceEval(mixed.toDF("slice", "score", "label"),
        "score", "label", "slice", bins = 8)
      .orderBy("slice").collect()
    assert(m.map(_.getString(0)).toSeq === Seq("ocr", "web"))
    assert(m(0).getDouble(2) < 0.1 && m(1).getDouble(2) > 0.9)
    // single-class slice reports NULL auc; null slice buckets __null__
    val deg = (Seq(("only1", 0.9, 1.0), ("only1", 0.3, 1.0)) ++
      Seq((null: String, 0.7, 1.0), (null: String, 0.2, 0.0)))
      .toDF("slice", "score", "label")
    val dm = Classifier.sliceEval(deg, "score", "label", "slice",
      bins = 4).orderBy("slice").collect()
    assert(dm.map(_.getString(0)).toSeq === Seq("__null__", "only1"))
    assert(!dm(0).isNullAt(2) && dm(1).isNullAt(2))
    // hygiene refusal rides the aggregate
    intercept[IllegalArgumentException](Classifier.sliceEval(
      Seq(("a", 1.5, 1.0), ("a", 0.2, 0.0)).toDF("slice", "score", "label"),
      "score", "label", "slice").count())
  }

  test("krippendorffAlphaInterval: hand-computed alpha, degenerates, refusals") {
    import spark.implicits._
    // items A:{1,2} B:{3,3} C:{5} — C is a singleton and drops out.
    // d_o: A = 2(2*5-9)/1 = 2, B = 2(2*18-36)/1 = 0 -> 2/4 = 0.5
    // d_e over pooled {1,2,3,3}: 2(4*23-81)/(4*3) = 11/6
    // alpha = 1 - 0.5/(11/6) = 8/11
    val df = Seq(("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 3.0),
      ("C", 5.0)).toDF("item", "x")
    val r = Classifier.krippendorffAlphaInterval(df, "item", "x").head()
    assert(r.getLong(0) === 2L && r.getLong(1) === 4L)
    assert(r.getDouble(2) === 0.5)
    assert(math.abs(r.getDouble(3) - 11.0 / 6) < 1e-9)
    assert(math.abs(r.getDouble(4) - 8.0 / 11) < 1e-9)
    // all ratings identical: d_e = 0 degenerate reports 1.0
    val const = Seq(("A", 3.0), ("A", 3.0), ("B", 3.0), ("B", 3.0))
      .toDF("item", "x")
    assert(Classifier.krippendorffAlphaInterval(const, "item", "x")
      .head().getDouble(4) === 1.0)
    // refusals: NaN rating, all-singleton panel, empty frame
    intercept[IllegalArgumentException](
      Classifier.krippendorffAlphaInterval(
        Seq(("A", Double.NaN), ("A", 1.0)).toDF("item", "x"), "item", "x"))
    intercept[IllegalArgumentException](
      Classifier.krippendorffAlphaInterval(
        Seq(("A", 1.0), ("B", 2.0)).toDF("item", "x"), "item", "x"))
    intercept[IllegalArgumentException](
      Classifier.krippendorffAlphaInterval(
        df.filter(lit(false)), "item", "x"))
  }

  test("mcnemarTest: hand-computed discordants, agreement degenerate, refusals") {
    import spark.implicits._
    // 10 rows: A correct on 1-6 (6), B correct on 5-10 (6);
    // b = A-only = rows 1-4 (4), c = B-only = rows 7-10 (4)
    val df = (1 to 10).map { i =>
      ("y", if (i <= 6) "y" else "n", if (i >= 5) "y" else "n")
    }.toDF("label", "pa", "pb")
    val r = Classifier.mcnemarTest(df, "label", "pa", "pb").head()
    assert(r.getLong(0) === 10L)
    assert(r.getDouble(1) === 0.6 && r.getDouble(2) === 0.6)
    assert(r.getLong(3) === 4L && r.getLong(4) === 4L)
    // |4-4|-1 = -1, squared = 1, / 8
    assert(r.getDouble(5) === 0.125)
    // p matches the pinned closed form and sits in (0, 1]
    assert(r.getDouble(6) === Num.round9(Num.chi2P1(0.125)))
    // A correct on all 6, B only on row 1: b=5, c=0 ->
    // (|5-0|-1)^2/5 = 16/5 = 3.2
    val skewRow = Classifier.mcnemarTest(
      (1 to 6).map(i => ("y", "y", if (i == 1) "y" else "n"))
        .toDF("label", "pa", "pb"), "label", "pa", "pb").head()
    assert(skewRow.getDouble(5) === 3.2)
    // bigger statistic, smaller tail
    assert(skewRow.getDouble(6) < r.getDouble(6))
    // identical models never disagree: statistic 0 by convention,
    // p = 1 exactly (the fit's tiny >1 excess at 0 is clamped)
    val same = Seq(("y", "y", "y"), ("y", "n", "n")).toDF("label", "pa", "pb")
    val sameRow = Classifier.mcnemarTest(same, "label", "pa", "pb").head()
    assert(sameRow.getDouble(5) === 0.0 && sameRow.getDouble(6) === 1.0)
    // null pred scores wrong (null-safe equality); null label refuses
    val np = Classifier.mcnemarTest(
      Seq(("y", null.asInstanceOf[String], "y")).toDF("label", "pa", "pb"),
      "label", "pa", "pb").head()
    assert(np.getLong(4) === 1L && np.getLong(3) === 0L)
    intercept[IllegalArgumentException](Classifier.mcnemarTest(
      Seq((null.asInstanceOf[String], "y", "y")).toDF("label", "pa", "pb"),
      "label", "pa", "pb"))
    intercept[IllegalArgumentException](Classifier.mcnemarTest(
      df.filter(lit(false)), "label", "pa", "pb"))
  }

  test("pairedBootstrapDelta: mean is the exact accuracy delta; pairing cancels shared noise") {
    import spark.implicits._
    // A correct on 60 of 100, B on 40 of 100 -> delta mean 0.2 exactly
    val df = (1 to 100).map { i =>
      (i.toLong, "y", if (i <= 60) "y" else "n", if (i <= 40) "y" else "n")
    }.toDF("id", "label", "pa", "pb")
    val r = Classifier.pairedBootstrapDelta(df, "label", "pa", "pb", "id",
      replicates = 50, alpha = 0.1).head()
    assert(r.getLong(0) === 100L)
    assert(r.getDouble(1) === 0.2)
    assert(r.getDouble(3) <= 0.2 && 0.2 <= r.getDouble(4))
    // identical models: delta exactly 0 in EVERY replicate (the pairing
    // guarantee — per-row noise cancels), so se = 0 and CI = [0, 0]
    val same = (1 to 50).map(i => (i.toLong, "y", "y", "y"))
      .toDF("id", "label", "pa", "pb")
    val s = Classifier.pairedBootstrapDelta(same, "label", "pa", "pb", "id",
      replicates = 40, alpha = 0.1).head()
    assert(s.getDouble(1) === 0.0 && s.getDouble(2) === 0.0 &&
      s.getDouble(3) === 0.0 && s.getDouble(4) === 0.0)
    // null label refuses
    intercept[IllegalArgumentException](Classifier.pairedBootstrapDelta(
      Seq((1L, null.asInstanceOf[String], "y", "y"))
        .toDF("id", "label", "pa", "pb"),
      "label", "pa", "pb", "id"))
  }

  test("bootstrapMeanCI: determinism, coverage, constant degenerate, refusals") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val r = Classifier.bootstrapMeanCI(df, "v", "id", replicates = 50)
      .head()
    assert(r.getLong(0) === 100L)
    assert(r.getDouble(1) === 50.5)
    // the CI straddles the sample mean and has positive width
    assert(r.getDouble(3) < 50.5 && r.getDouble(4) > 50.5)
    assert(r.getDouble(2) > 0)
    // and se is in the right ballpark: sd/sqrt(n) ~ 29/10 ~ 2.9
    assert(r.getDouble(2) > 1.0 && r.getDouble(2) < 6.0, r.getDouble(2))
    // the md5 draw makes the whole trajectory partitioning-invariant
    val r2 = Classifier.bootstrapMeanCI(df.repartition(13), "v", "id",
      replicates = 50).head()
    assert(r2.getDouble(2) === r.getDouble(2) &&
      r2.getDouble(3) === r.getDouble(3) && r2.getDouble(4) === r.getDouble(4))
    // constant column: every replicate mean IS the mean -> zero-width CI
    val const = Classifier.bootstrapMeanCI(
      (1 to 50).map(i => (i.toLong, 7.0)).toDF("id", "v"), "v", "id",
      replicates = 20).head()
    assert((const.getDouble(2), const.getDouble(3), const.getDouble(4))
      === ((0.0, 7.0, 7.0)))
    intercept[IllegalArgumentException](Classifier.bootstrapMeanCI(
      df, "v", "id", replicates = 5))
    intercept[IllegalArgumentException](Classifier.bootstrapMeanCI(
      df, "v", "id", alpha = 0.0))
    intercept[IllegalArgumentException](Classifier.bootstrapMeanCI(
      Seq((1L, Double.NaN)).toDF("id", "v"), "v", "id"))
    intercept[IllegalArgumentException](Classifier.bootstrapMeanCI(
      df.filter(lit(false)), "v", "id"))
  }

  test("properScoresMulticlass: hand 3-class case, per-class Murphy identity, binary consistency, refusals") {
    import spark.implicits._
    // 4 rows, K = 3, bins = 4 (p in {.25, .5} -> bins 1, 2); every
    // per-class value below is hand-computed in the comment
    val rows = Seq(
      (Seq(0.50, 0.25, 0.25), 0),
      (Seq(0.25, 0.50, 0.25), 1),
      (Seq(0.50, 0.25, 0.25), 1),
      (Seq(0.25, 0.25, 0.50), 2)).toDF("probs", "label")
    val out = Classifier.properScoresMulticlass(rows, "probs", "label",
      bins = 4).orderBy("cls").collect()
    assert(out.map(_.getInt(0)).toSeq === Seq(-1, 0, 1, 2))
    val Array(sm, c0, c1, c2) = out
    def d(r: org.apache.spark.sql.Row, i: Int) = r.getDouble(i)
    // class 0: support 1, ll = ln 2, brier .15625, rel .03125,
    // res .0625, unc .1875 (identity: .03125 - .0625 + .1875 = brier)
    assert(c0.getLong(1) === 1L)
    assert(math.abs(d(c0, 2) - math.log(2)) < 1e-9)
    assert(d(c0, 3) === 0.15625 && d(c0, 4) === 0.03125)
    assert(d(c0, 5) === 0.0625 && d(c0, 6) === 0.1875)
    // class 1: support 2, ll = 1.5 ln 2, brier .234375
    assert(c1.getLong(1) === 2L)
    assert(math.abs(d(c1, 2) - 1.5 * math.log(2)) < 1e-9)
    assert(d(c1, 3) === 0.234375)
    // class 2: support 1, brier .109375, res .1875
    assert(c2.getLong(1) === 1L && d(c2, 3) === 0.109375)
    assert(d(c2, 5) === 0.1875)
    // the Murphy identity holds PER CLASS for bin-discrete forecasts,
    // and therefore for the summary sums
    out.foreach { r =>
      assert(math.abs(d(r, 3) - (d(r, 4) - d(r, 5) + d(r, 6))) < 1e-9,
        s"Murphy identity at cls ${r.getInt(0)}")
    }
    // summary: N, mean NLL = 5 ln 2 / 4, vector brier = .5 = the
    // direct per-row computation
    assert(sm.getLong(1) === 4L)
    assert(math.abs(d(sm, 2) - 1.25 * math.log(2)) < 1e-9)
    assert(d(sm, 3) === 0.5)
    // binary consistency: a (1-p, p) two-class vector reproduces the
    // binary properScores log-loss exactly and DOUBLES the Brier
    // ((p0 - (1-y))^2 == (p - y)^2, so the vector sum is 2x)
    val bin = (0 until 64).map { i =>
      val p = (i % 8) / 8.0
      (Seq(1.0 - p, p), i % 2, p, (i % 2).toDouble)
    }
    val mcr = Classifier.properScoresMulticlass(
      bin.map(t => (t._1, t._2)).toDF("probs", "label"),
      "probs", "label", bins = 8).filter(col("cls") === -1).head()
    val br = Classifier.properScores(
      bin.map(t => (t._3, t._4)).toDF("score", "label"),
      "score", "label", bins = 8).head()
    assert(math.abs(mcr.getDouble(2) - br.getDouble(1)) < 1e-9)
    assert(math.abs(mcr.getDouble(3) - 2.0 * br.getDouble(2)) < 1e-9)
    // refusals all ride the one aggregate: ragged K, out-of-range
    // prob, out-of-range label, non-integer label, empty
    val e1 = intercept[IllegalArgumentException](
      Classifier.properScoresMulticlass(
        Seq((Seq(0.5, 0.5), 0), (Seq(0.25, 0.5, 0.25), 1))
          .toDF("probs", "label"),
        "probs", "label").count())
    assert(e1.getMessage.contains("ragged"), e1.getMessage)
    intercept[IllegalArgumentException](
      Classifier.properScoresMulticlass(
        Seq((Seq(1.5, -0.5), 0)).toDF("probs", "label"),
        "probs", "label").count())
    intercept[IllegalArgumentException](
      Classifier.properScoresMulticlass(
        Seq((Seq(0.5, 0.5), 2)).toDF("probs", "label"),
        "probs", "label").count())
    intercept[IllegalArgumentException](
      Classifier.properScoresMulticlass(
        Seq((Seq(0.5, 0.5), 0.7)).toDF("probs", "label"),
        "probs", "label").count())
    intercept[IllegalArgumentException](
      Classifier.properScoresMulticlass(
        Seq.empty[(Seq[Double], Int)].toDF("probs", "label"),
        "probs", "label").count())
    // a zero-length (non-null) vector must REFUSE, not silently vanish
    // (review-fixed: plain posexplode emitted no rows for it, dropping
    // the row from the census and every statistic)
    intercept[IllegalArgumentException](
      Classifier.properScoresMulticlass(
        Seq((Seq(0.5, 0.5), 0), (Seq.empty[Double], 0))
          .toDF("probs", "label"),
        "probs", "label").count())
    intercept[IllegalArgumentException](
      Classifier.properScoresMulticlass(rows, "probs", "label", bins = 1))
  }

  test("krippendorffAlphaRatio: hand case, scale invariance, degenerates, refusals") {
    import spark.implicits._
    // items: A (1,1), B (2,2), C (1,2); singleton D (7) excluded.
    // D_o = (0 + 0 + 2*(1/9)) / (m-1) / 6 = (2/9)/6 = 1/27
    // D_e over pooled {1:3, 2:3}: 2*(3*3*(1/9)) / (6*5) = 2/30 = 1/15
    // alpha = 1 - (1/27)/(1/15) = 4/9
    val df = Seq(("A", 1.0), ("A", 1.0), ("B", 2.0), ("B", 2.0),
      ("C", 1.0), ("C", 2.0), ("D", 7.0)).toDF("item", "v")
    val r = Classifier.krippendorffAlphaRatio(df, "item", "v").head()
    assert(r.getLong(0) === 3L && r.getLong(1) === 6L)
    assert(math.abs(r.getDouble(2) - 1.0 / 27) < 1e-9)
    assert(math.abs(r.getDouble(3) - 1.0 / 15) < 1e-9)
    assert(math.abs(r.getDouble(4) - 4.0 / 9) < 1e-9)
    // scale invariance (the property the ratio metric exists for):
    // x -> 2x is bit-exact (powers of two), x -> 3x within fp noise
    def alphaOf(scale: Double) = Classifier.krippendorffAlphaRatio(
      df.select(col("item"), (col("v") * scale).as("v")), "item", "v")
      .head().getDouble(4)
    assert(alphaOf(2.0) === r.getDouble(4))
    assert(math.abs(alphaOf(3.0) - r.getDouble(4)) < 1e-9)
    // all ratings identical: D_e = 0 -> alpha 1; zeros never divide
    // by zero (delta(0,0) = 0 by the tie branch)
    val ones = Classifier.krippendorffAlphaRatio(
      Seq(("A", 0.0), ("A", 0.0), ("B", 0.0), ("B", 0.0))
        .toDF("item", "v"), "item", "v").head()
    assert(ones.getDouble(4) === 1.0)
    // refusals: negative scale, NaN, all-singleton, maxDistinct
    intercept[IllegalArgumentException](Classifier.krippendorffAlphaRatio(
      Seq(("A", -1.0), ("A", 1.0)).toDF("item", "v"), "item", "v")
      .count())
    intercept[IllegalArgumentException](Classifier.krippendorffAlphaRatio(
      Seq(("A", Double.NaN), ("A", 1.0)).toDF("item", "v"), "item", "v")
      .count())
    intercept[IllegalArgumentException](Classifier.krippendorffAlphaRatio(
      Seq(("A", 1.0), ("B", 2.0)).toDF("item", "v"), "item", "v")
      .count())
    intercept[IllegalArgumentException](Classifier.krippendorffAlphaRatio(
      df, "item", "v", maxDistinct = 1).count())
  }

  test("abReport: bit-identical to the hand-composition; antisymmetry; degenerate; refusal") {
    import spark.implicits._
    // the r17 query-only composition, promoted to an operator in r18:
    // the contract is BIT-equality to composing mcnemarTest (on 0.5-
    // thresholded predictions) and deLongTest (on raw scores) by hand
    val rows = (0 until 40).map { i =>
      (i.toLong, if (i % 3 == 0 || i % 7 == 0) 1.0 else 0.0,
        ((i * 13) % 8) / 8.0, ((i * 11) % 5) / 5.0)
    }
    val df = rows.toDF("id", "y", "sa", "sb")
    val r = Classifier.abReport(df, "y", "sa", "sb").head()
    val pr = df.select(col("y"),
      (col("sa") >= 0.5).cast("double").as("pa"),
      (col("sb") >= 0.5).cast("double").as("pb"))
    val mc = Classifier.mcnemarTest(pr, "y", "pa", "pb").head()
    val dl = Classifier.deLongTest(df, "y", "sa", "sb").head()
    assert(r.getLong(0) === mc.getLong(0))
    assert(r.getDouble(1) === mc.getDouble(1))        // acc_a
    assert(r.getDouble(2) === mc.getDouble(2))        // acc_b
    assert(r.getLong(3) === mc.getLong(3))            // b
    assert(r.getLong(4) === mc.getLong(4))            // c
    assert(r.getDouble(5) === mc.getDouble(5))        // statistic
    assert(r.getDouble(6) === mc.getDouble(6))        // p
    assert(r.getDouble(7) === dl.getDouble(2))        // auc_a
    assert(r.getDouble(8) === dl.getDouble(3))        // auc_b
    assert(r.getDouble(9) === dl.getDouble(4))        // delta
    assert(r.getDouble(10) === dl.getDouble(6))       // z
    assert(r.getDouble(11) === dl.getDouble(7))       // p
    // antisymmetry, composed across BOTH legs: swapping the models
    // swaps the accuracy/discordant/AUC columns, negates delta and z,
    // and keeps both p-values
    val sw = Classifier.abReport(df, "y", "sb", "sa").head()
    assert(sw.getDouble(1) === r.getDouble(2) &&
      sw.getDouble(2) === r.getDouble(1))
    assert(sw.getLong(3) === r.getLong(4) && sw.getLong(4) === r.getLong(3))
    assert(sw.getDouble(5) === r.getDouble(5) &&
      sw.getDouble(6) === r.getDouble(6))
    assert(sw.getDouble(7) === r.getDouble(8) &&
      sw.getDouble(8) === r.getDouble(7))
    assert(sw.getDouble(9) === -r.getDouble(9))
    assert(sw.getDouble(10) === -r.getDouble(10))
    assert(sw.getDouble(11) === r.getDouble(11))
    // identical models: both legs degenerate in one call — no
    // discordants (stat 0, p 1) and var 0 (z 0, p 1)
    val same = Classifier.abReport(
      df.select(col("y"), col("sa"), col("sa").as("sb")),
      "y", "sa", "sb").head()
    assert(same.getLong(3) === 0L && same.getLong(4) === 0L)
    assert(same.getDouble(5) === 0.0 && same.getDouble(6) === 1.0)
    assert(same.getDouble(9) === 0.0 && same.getDouble(11) === 1.0)
    // the ONE combined census refuses a null score anywhere
    intercept[IllegalArgumentException](Classifier.abReport(
      df.select(col("y"), when(col("id") === 3, lit(null))
        .otherwise(col("sa")).as("sa"), col("sb")),
      "y", "sa", "sb").count())
  }

  test("nonInferiorityTest: hand case, no-discordants certainty, worse-model reflection, refusals") {
    import spark.implicits._
    // 100 rows: 6 discordants A-wins, 10 B-wins, 84 both-correct
    // delta = .04, se = sqrt(16 - 16/100)/100, z = (delta+.02)/se
    def frame(nb: Int, nc: Int, nBoth: Int) =
      (Seq.fill(nb)(("1", "1", "0")) ++ Seq.fill(nc)(("1", "0", "1")) ++
        Seq.fill(nBoth)(("1", "1", "1"))).toDF("y", "a", "b")
    val r = Classifier.nonInferiorityTest(frame(6, 10, 84), "y", "a",
      "b", margin = 0.02).head()
    assert(r.getLong(0) === 100L)
    assert(r.getDouble(3) === 0.04 && r.getDouble(4) === 0.02)
    val se = math.sqrt(16 - 16.0 / 100) / 100
    assert(math.abs(r.getDouble(5) - se) < 1e-9)
    val z = (0.04 + 0.02) / se
    assert(math.abs(r.getDouble(6) - z) < 1e-9)
    assert(math.abs(r.getDouble(7) -
      math.min(1.0, graft.ops.Num.erfcc(z / math.sqrt(2.0)) / 2.0)) < 1e-8)
    // z ~ 1.51 -> p ~ .066: NOT non-inferior at alpha = .05 even
    // though B is numerically better — the evidence is insufficient
    assert(!r.getBoolean(8))
    // identical models: no discordants, margin > 0 -> certainty
    val same = Classifier.nonInferiorityTest(frame(0, 0, 50), "y", "a",
      "b", margin = 0.02).head()
    assert(same.getDouble(7) === 0.0 && same.getBoolean(8))
    // B clearly worse: negative z exercises the erfcc reflection;
    // p -> 1, and p + p(mirror-margin direction) stays a probability
    val worse = Classifier.nonInferiorityTest(frame(20, 0, 80), "y",
      "a", "b", margin = 0.02).head()
    assert(worse.getDouble(6) < 0 && worse.getDouble(7) > 0.999)
    assert(!worse.getBoolean(8))
    // refusals: margin, alpha, null labels, empty
    intercept[IllegalArgumentException](Classifier.nonInferiorityTest(
      frame(1, 1, 1), "y", "a", "b", margin = 0.0))
    intercept[IllegalArgumentException](Classifier.nonInferiorityTest(
      frame(1, 1, 1), "y", "a", "b", margin = 0.02, alpha = 0.7))
    intercept[IllegalArgumentException](Classifier.nonInferiorityTest(
      frame(1, 1, 1).select(lit(null).cast("string").as("y"), col("a"),
        col("b")), "y", "a", "b", margin = 0.02))
    intercept[IllegalArgumentException](Classifier.nonInferiorityTest(
      frame(0, 0, 0), "y", "a", "b", margin = 0.02))
  }

  test("offPolicyEval: hand IPS/SNIPS/ESS/SEs/CIs, identity policy, clipping census, refusals") {
    import spark.implicits._
    // (reward, logged propensity, target prob): w = 2, .5, 4->clip 2, .5
    val log = Seq((1.0, 0.5, 1.0), (0.0, 0.5, 0.25), (1.0, 0.25, 1.0),
      (0.5, 1.0, 0.5)).toDF("r", "pb", "pt")
    val r = Classifier.offPolicyEval(log, "r", "pb", "pt", clip = 2.0)
      .head()
    assert(r.getLong(0) === 4L)
    assert(r.getDouble(1) === 0.625)           // behavior mean
    assert(r.getDouble(2) === 1.0625)          // ips = 4.25/4
    assert(r.getDouble(6) === 0.85)            // snips = 4.25/5
    assert(r.getDouble(10) ===
      graft.ops.Num.round9(25.0 / 8.5))        // ess = (Σw)²/Σw²
    assert(r.getDouble(11) === 0.25)           // 1 of 4 clipped
    // hand SEs from the same four rows: per-row x = wc·r is
    // (2, 0, 2, .25), so Σx² = 8.0625 and Σx² − (Σx)²/n = 3.546875 —
    // se(ips) = √(3.546875/3/4); the delta-method snips term is
    // Σ(wr)² − 2·snips·Σw²r + snips²·Σw² = 8.0625 − 2(.85)(8.125) +
    // (.85)²(8.5) = 0.39125 — se(snips) = √0.39125 / 5
    val ipsSe = graft.ops.Num.round9(math.sqrt(3.546875 / 3.0 / 4.0))
    val snipsSe = graft.ops.Num.round9(
      math.sqrt(8.0625 - 2.0 * 0.85 * 8.125 + 0.85 * 0.85 * 8.5) / 5.0)
    assert(r.getDouble(3) === ipsSe)
    assert(r.getDouble(7) === snipsSe)
    // CIs at the fixed z = 1.959964, computed from the UNROUNDED se
    assert(r.getDouble(4) === graft.ops.Num.round9(
      1.0625 - 1.959964 * math.sqrt(3.546875 / 3.0 / 4.0)))
    assert(r.getDouble(5) === graft.ops.Num.round9(
      1.0625 + 1.959964 * math.sqrt(3.546875 / 3.0 / 4.0)))
    assert(r.getDouble(8) < 0.85 && r.getDouble(9) > 0.85)
    // the self-normalized CI is tighter than the raw IPS CI here —
    // the reason snips is the practical default
    assert(snipsSe < ipsSe)
    // identity policy: every estimate collapses to the behavior mean
    // and ESS is the full n — the sanity anchor
    val id0 = Classifier.offPolicyEval(
      log.select(col("r"), col("pb"), col("pb").as("pt")),
      "r", "pb", "pt").head()
    assert(id0.getDouble(2) === id0.getDouble(1))
    assert(id0.getDouble(6) === id0.getDouble(1))
    assert(id0.getDouble(10) === 4.0 && id0.getDouble(11) === 0.0)
    // single-row log: SEs are 0 by the n > 1 guard, CIs collapse
    val one = Classifier.offPolicyEval(
      Seq((1.0, 0.5, 0.5)).toDF("r", "pb", "pt"), "r", "pb", "pt")
      .head()
    assert(one.getDouble(3) === 0.0 && one.getDouble(7) === 0.0)
    assert(one.getDouble(4) === one.getDouble(2))
    // refusals ride the one aggregate: zero logging propensity,
    // target prob > 1, NaN reward, bad clip, empty
    intercept[IllegalArgumentException](Classifier.offPolicyEval(
      Seq((1.0, 0.0, 0.5)).toDF("r", "pb", "pt"), "r", "pb", "pt"))
    intercept[IllegalArgumentException](Classifier.offPolicyEval(
      Seq((1.0, 0.5, 1.5)).toDF("r", "pb", "pt"), "r", "pb", "pt"))
    intercept[IllegalArgumentException](Classifier.offPolicyEval(
      Seq((Double.NaN, 0.5, 0.5)).toDF("r", "pb", "pt"), "r", "pb",
      "pt"))
    intercept[IllegalArgumentException](Classifier.offPolicyEval(
      log, "r", "pb", "pt", clip = 0.0))
    intercept[IllegalArgumentException](Classifier.offPolicyEval(
      log.filter(lit(false)), "r", "pb", "pt"))
  }

  test("doublyRobustEval: hand DR + SEs, perfect-model anchor, zero-model degrades to IPS, refusals") {
    import spark.implicits._
    // (reward, p_logged, p_target, q_hat, v_hat): wc = 2, .5, 2, .5
    val log = Seq(
      (1.0, 0.5, 1.0, 0.75, 0.5),
      (0.0, 0.5, 0.25, 0.25, 0.25),
      (1.0, 0.25, 1.0, 1.0, 0.75),
      (0.5, 1.0, 0.5, 0.5, 0.25)).toDF("r", "pb", "pt", "qh", "vh")
    val r = Classifier.doublyRobustEval(log, "r", "pb", "pt", "qh",
      "vh", clip = 2.0).head()
    assert(r.getLong(0) === 4L)
    assert(r.getDouble(1) === 0.625)                 // behavior mean
    assert(r.getDouble(2) === 0.4375)                // dm = mean v_hat
    assert(r.getDouble(3) === 1.0625)                // ips (as offPolicyEval)
    // dr per row: .5+2(.25)=1; .25+.5(-.25)=.125; .75+2(0)=.75;
    // .25+.5(0)=.25 -> mean = 2.125/4
    assert(r.getDouble(7) === 0.53125)
    assert(r.getDouble(12) === 0.25)
    // hand SEs: ips per-row x = (2, 0, 2, .25) gives Σx² − (Σx)²/n =
    // 3.546875 (the offPolicyEval pin); dr per-row x = (1, .125, .75,
    // .25) gives Σx² = 1.640625 and Σx² − (Σx)²/n = 0.51171875
    val ipsSe = graft.ops.Num.round9(math.sqrt(3.546875 / 3.0 / 4.0))
    val drSe = graft.ops.Num.round9(math.sqrt(0.51171875 / 3.0 / 4.0))
    assert(r.getDouble(4) === ipsSe)
    assert(r.getDouble(8) === drSe)
    assert(r.getDouble(9) === graft.ops.Num.round9(
      0.53125 - 1.959964 * math.sqrt(0.51171875 / 3.0 / 4.0)))
    assert(r.getDouble(10) === graft.ops.Num.round9(
      0.53125 + 1.959964 * math.sqrt(0.51171875 / 3.0 / 4.0)))
    // the DR CI is TIGHTER than the IPS CI when the reward model is
    // any good — the whole point of carrying it
    assert(drSe < ipsSe)
    // PERFECT reward model (q = r): the correction vanishes — DR
    // equals the direct method exactly, propensities irrelevant, and
    // the DR variance collapses to the v-hat spread
    val perfect = Classifier.doublyRobustEval(
      log.select(col("r"), col("pb"), col("pt"), col("r").as("qh"),
        col("vh")), "r", "pb", "pt", "qh", "vh", clip = 2.0).head()
    assert(perfect.getDouble(7) === perfect.getDouble(2))
    // ZERO model: DR degrades to exactly the IPS estimate AND the
    // ips/dr standard errors coincide (identical per-row terms)
    val zero = Classifier.doublyRobustEval(
      log.select(col("r"), col("pb"), col("pt"),
        lit(0.0).as("qh"), lit(0.0).as("vh")),
      "r", "pb", "pt", "qh", "vh", clip = 2.0).head()
    assert(zero.getDouble(7) === zero.getDouble(3))
    assert(zero.getDouble(3) === r.getDouble(3))
    assert(zero.getDouble(8) === zero.getDouble(4))
    // refusals: NaN model column, bad propensity, empty
    intercept[IllegalArgumentException](Classifier.doublyRobustEval(
      Seq((1.0, 0.5, 0.5, Double.NaN, 0.0)).toDF("r", "pb", "pt", "qh",
        "vh"), "r", "pb", "pt", "qh", "vh"))
    intercept[IllegalArgumentException](Classifier.doublyRobustEval(
      Seq((1.0, 0.0, 0.5, 0.5, 0.5)).toDF("r", "pb", "pt", "qh", "vh"),
      "r", "pb", "pt", "qh", "vh"))
    intercept[IllegalArgumentException](Classifier.doublyRobustEval(
      log.filter(lit(false)), "r", "pb", "pt", "qh", "vh"))
  }

  test("offPolicyEvalBySlice: Simpson reversal — pooled wins, one slice loses; rows match the scalar op per slice; refusals") {
    import spark.implicits._
    // slice a: candidate up-weights the rewarded rows (w = 2, r = 1);
    // slice b: candidate down-weights its only rewarded row — the
    // candidate WINS pooled and LOSES on slice b
    val log = Seq(
      ("a", 1.0, 0.5, 1.0), ("a", 1.0, 0.5, 1.0), ("a", 1.0, 0.5, 1.0),
      ("b", 1.0, 1.0, 0.25), ("b", 0.0, 0.5, 1.0))
      .toDF("slice", "r", "pb", "pt")
    val pooled = Classifier.offPolicyEval(log, "r", "pb", "pt",
      clip = 2.0).head()
    assert(pooled.getDouble(2) > pooled.getDouble(1)) // ips 1.25 > .8
    val by = Classifier.offPolicyEvalBySlice(log, "r", "pb", "pt",
      "slice", clip = 2.0).orderBy("slice").collect()
    assert(by.length === 2)
    val (sa, sb) = (by(0), by(1))
    assert(sa.getString(0) === "a" && sb.getString(0) === "b")
    assert(sa.getDouble(3) > sa.getDouble(2))   // a: ips 2 > mean 1
    assert(sb.getDouble(3) < sb.getDouble(2))   // b: ips .125 < mean .5
    // every per-slice row equals the SCALAR operator run on that
    // slice alone — same formulas, same rounding, column for column
    for ((row, s) <- Seq((sa, "a"), (sb, "b"))) {
      val solo = Classifier.offPolicyEval(
        log.filter(col("slice") === s), "r", "pb", "pt", clip = 2.0)
        .head()
      for (i <- 0 until solo.length)
        assert(row.get(i + 1) === solo.get(i),
          s"slice $s column $i: ${row.get(i + 1)} vs ${solo.get(i)}")
    }
    // per-slice ESS: slice a is uniform-weight (ess = n = 3)
    assert(sa.getDouble(11) === 3.0)
    // refusals: a bad row in ANY slice refuses the whole call; empty
    intercept[IllegalArgumentException](Classifier.offPolicyEvalBySlice(
      log.select(col("slice"), col("r"), when(col("slice") === "b",
        lit(0.0)).otherwise(col("pb")).as("pb"), col("pt")),
      "r", "pb", "pt", "slice", clip = 2.0))
    intercept[IllegalArgumentException](Classifier.offPolicyEvalBySlice(
      log.filter(lit(false)), "r", "pb", "pt", "slice"))
  }

  test("routerPropensities: extracts (pb, pt) at the action index; bad rows delegate to the estimator census; e2e equals precomputed") {
    import spark.implicits._
    val log = Seq(
      (1.0, "m1", Seq("m0", "m1"), Seq(0.75, 0.25), Seq(0.5, 0.5)),
      (0.5, "m0", Seq("m0", "m1"), Seq(0.5, 0.5), Seq(0.25, 0.75)))
      .toDF("r", "action", "cand", "bp", "tp")
    val out = Classifier.routerPropensities(log, "action", "cand",
      "bp", "tp").orderBy("action").collect()
    assert(out(0).getDouble(out(0).fieldIndex("pb")) === 0.5)  // m0
    assert(out(0).getDouble(out(0).fieldIndex("pt")) === 0.25)
    assert(out(1).getDouble(out(1).fieldIndex("pb")) === 0.25) // m1
    assert(out(1).getDouble(out(1).fieldIndex("pt")) === 0.5)
    // e2e: adapter + offPolicyEval == offPolicyEval on precomputed
    val viaAdapter = Classifier.offPolicyEval(
      Classifier.routerPropensities(log, "action", "cand", "bp", "tp"),
      "r", "pb", "pt", clip = 2.0).collect()
    val direct = Classifier.offPolicyEval(
      Seq((1.0, 0.25, 0.5), (0.5, 0.5, 0.25)).toDF("r", "pb", "pt"),
      "r", "pb", "pt", clip = 2.0).collect()
    assert(viaAdapter.toSeq === direct.toSeq)
    // action missing from the candidate list -> NULL propensities ->
    // the estimator's own census refuses (the delegation contract)
    val missing = Seq(
      (1.0, "m9", Seq("m0", "m1"), Seq(0.75, 0.25), Seq(0.5, 0.5)))
      .toDF("r", "action", "cand", "bp", "tp")
    intercept[IllegalArgumentException](Classifier.offPolicyEval(
      Classifier.routerPropensities(missing, "action", "cand", "bp",
        "tp"), "r", "pb", "pt"))
    // ragged probability vector (length != candidates) -> same path
    val ragged = Seq(
      (1.0, "m1", Seq("m0", "m1"), Seq(1.0), Seq(0.5, 0.5)))
      .toDF("r", "action", "cand", "bp", "tp")
    intercept[IllegalArgumentException](Classifier.offPolicyEval(
      Classifier.routerPropensities(ragged, "action", "cand", "bp",
        "tp"), "r", "pb", "pt"))
  }

  test("doublyRobustEvalBySlice: rows match the scalar DR op per slice; refusals") {
    import spark.implicits._
    val log = Seq(
      ("a", 1.0, 0.5, 1.0, 0.75, 0.5),
      ("a", 0.0, 0.5, 0.25, 0.25, 0.25),
      ("b", 1.0, 0.25, 1.0, 1.0, 0.75),
      ("b", 0.5, 1.0, 0.5, 0.5, 0.25),
      ("b", 0.5, 0.5, 0.5, 0.25, 0.5))
      .toDF("slice", "r", "pb", "pt", "qh", "vh")
    val by = Classifier.doublyRobustEvalBySlice(log, "r", "pb", "pt",
      "qh", "vh", "slice", clip = 2.0).orderBy("slice").collect()
    assert(by.length === 2)
    for ((row, s) <- Seq((by(0), "a"), (by(1), "b"))) {
      val solo = Classifier.doublyRobustEval(
        log.filter(col("slice") === s), "r", "pb", "pt", "qh", "vh",
        clip = 2.0).head()
      for (i <- 0 until solo.length)
        assert(row.get(i + 1) === solo.get(i),
          s"slice $s column $i: ${row.get(i + 1)} vs ${solo.get(i)}")
    }
    intercept[IllegalArgumentException](
      Classifier.doublyRobustEvalBySlice(
        log.select(col("slice"), col("r"), col("pb"), col("pt"),
          lit(Double.NaN).as("qh"), col("vh")),
        "r", "pb", "pt", "qh", "vh", "slice"))
    intercept[IllegalArgumentException](
      Classifier.doublyRobustEvalBySlice(log.filter(lit(false)),
        "r", "pb", "pt", "qh", "vh", "slice"))
  }

  test("cupedDelta: hand theta/delta/SEs, constant covariate degrades to Welch, metric-as-covariate absorbs everything, variance reduction, refusals") {
    import spark.implicits._
    // hand case: arm a y=(0,1,0,1) x=(1,3,0,2); arm b y=(1,1,2,2)
    // x=(2,4,1,3) — pooled theta = 3/12 = .25, adjusted delta =
    // 1 − .25·(2.5 − 1.5) = .75
    val log = Seq(
      ("a", 0.0, 1.0), ("a", 1.0, 3.0), ("a", 0.0, 0.0),
      ("a", 1.0, 2.0),
      ("b", 1.0, 2.0), ("b", 1.0, 4.0), ("b", 2.0, 1.0),
      ("b", 2.0, 3.0)).toDF("arm", "y", "x")
    val r = Classifier.cupedDelta(log, "arm", "a", "b", "y", "x").head()
    assert(r.getLong(0) === 4L && r.getLong(1) === 4L)
    assert(r.getDouble(2) === 0.25)                 // theta
    assert(r.getDouble(3) === 1.0)                  // delta_raw
    assert(math.abs(r.getDouble(4) - math.sqrt(1.0 / 6.0)) < 1e-9)
    assert(r.getDouble(5) === 0.75)                 // adjusted delta
    // s2a = 5/48, s2b = 29/48 -> se = sqrt(34/192)
    assert(math.abs(r.getDouble(6) - math.sqrt(34.0 / 192.0)) < 1e-9)
    assert(math.abs(r.getDouble(7)
      - 0.75 / math.sqrt(34.0 / 192.0)) < 1e-9)     // z
    // constant covariate: var(x) = 0 -> theta = 0 and the whole row
    // degrades to the unadjusted Welch delta — never a blowup
    val const = Classifier.cupedDelta(
      log.select(col("arm"), col("y"), lit(7.0).as("x")),
      "arm", "a", "b", "y", "x").head()
    assert(const.getDouble(2) === 0.0)
    assert(const.getDouble(5) === const.getDouble(3))
    assert(const.getDouble(6) === const.getDouble(4))
    assert(const.getDouble(11) === 0.0)             // var_reduction
    // covariate == metric: theta 1, everything absorbed INCLUDING the
    // lift — delta 0, se 0, p 1 (why X must be pre-experiment)
    val same = Classifier.cupedDelta(
      log.select(col("arm"), col("y"), col("y").as("x")),
      "arm", "a", "b", "y", "x").head()
    assert(same.getDouble(2) === 1.0)
    assert(same.getDouble(5) === 0.0 && same.getDouble(6) === 0.0)
    assert(same.getDouble(8) === 1.0)               // p_value
    // a genuinely pre-experiment covariate correlated with the metric
    // base cuts the SE: 200 rows, y = base + arm lift, x = base
    val big = spark.range(200).select(
      concat(lit("arm"), (col("id") % 2).cast("string")).as("arm"),
      (((col("id") * 13) % 16).cast("double") / 16.0
        + (col("id") % 2).cast("double") * 0.25).as("y"),
      (((col("id") * 13) % 16).cast("double") / 16.0).as("x"))
    val adj = Classifier.cupedDelta(big, "arm", "arm0", "arm1", "y", "x")
      .head()
    assert(adj.getDouble(6) < adj.getDouble(4))     // se < se_raw
    assert(adj.getDouble(11) > 0.5)                 // big reduction
    assert(adj.getBoolean(12))                      // lift detected
    // review-fixed: a constant-metric arm at a NON-dyadic value can
    // read variance -1e-17 by fp cancellation — the clamped raw
    // Welch SE must be 0.0, never NaN
    val flat = Classifier.cupedDelta(
      Seq(("a", 0.3, 1.0), ("a", 0.3, 2.0), ("a", 0.3, 3.0),
        ("a", 0.3, 4.0), ("a", 0.3, 5.0),
        ("b", 0.4, 1.0), ("b", 0.4, 2.0), ("b", 0.4, 3.0))
        .toDF("arm", "y", "x"),
      "arm", "a", "b", "y", "x").head()
    assert(!flat.getDouble(4).isNaN && flat.getDouble(4) === 0.0)
    assert(!flat.getDouble(6).isNaN)
    // refusals: missing arm, < 2 rows per arm, NaN, same arms, alpha
    intercept[IllegalArgumentException](Classifier.cupedDelta(
      log.filter(col("arm") === "a"), "arm", "a", "b", "y", "x"))
    intercept[IllegalArgumentException](Classifier.cupedDelta(
      log.filter(col("arm") === "b" ||
        (col("y") === 0.0 && col("x") === 1.0)),
      "arm", "a", "b", "y", "x"))
    intercept[IllegalArgumentException](Classifier.cupedDelta(
      log.select(col("arm"), lit(Double.NaN).as("y"), col("x")),
      "arm", "a", "b", "y", "x"))
    intercept[IllegalArgumentException](Classifier.cupedDelta(
      log, "arm", "a", "a", "y", "x"))
    intercept[IllegalArgumentException](Classifier.cupedDelta(
      log, "arm", "a", "b", "y", "x", alpha = 0.7))
  }

  test("cupedDeltaMulti: k=1 equals cupedDelta, exact-fit thetas recovered, 2 covariates beat 1, collinear refusal") {
    import spark.implicits._
    val log = Seq(
      ("a", 0.0, 1.0), ("a", 1.0, 3.0), ("a", 0.0, 0.0),
      ("a", 1.0, 2.0),
      ("b", 1.0, 2.0), ("b", 1.0, 4.0), ("b", 2.0, 1.0),
      ("b", 2.0, 3.0)).toDF("arm", "y", "x")
    // k = 1 reduces to cupedDelta (driver scalar chain vs the column
    // chain: identical op order, so exact up to the erfcc exp ulp)
    val m1 = Classifier.cupedDeltaMulti(log, "arm", "a", "b", "y",
      Seq("x")).head()
    val c1 = Classifier.cupedDelta(log, "arm", "a", "b", "y", "x")
      .head()
    assert(m1.getInt(2) === 1)
    // scalar theta_1 column (r21: the array output was the one gate red)
    assert(math.abs(m1.getDouble(3) - c1.getDouble(2)) < 1e-9)
    for ((mi, ci) <- Seq(4 -> 3, 5 -> 4, 6 -> 5, 7 -> 6, 8 -> 7,
        12 -> 11))
      assert(math.abs(m1.getDouble(mi) - c1.getDouble(ci)) < 1e-9,
        s"multi($mi) vs cuped($ci)")
    assert(math.abs(m1.getDouble(9) - c1.getDouble(8)) < 1e-8) // p
    // exact linear fit: y = 2*x1 - 3*x2 + lift, covariate sets
    // IDENTICAL across arms -> thetas recovered, adjusted delta = the
    // lift exactly, residual variance 0
    val xs = Seq((0.0, 1.0), (1.0, 0.0), (2.0, 2.0), (3.0, 1.0))
    val exact = (xs.map { case (x1, x2) =>
      ("a", 2.0 * x1 - 3.0 * x2, x1, x2) } ++
      xs.map { case (x1, x2) =>
        ("b", 2.0 * x1 - 3.0 * x2 + 0.5, x1, x2) })
      .toDF("arm", "y", "x1", "x2")
    val ex = Classifier.cupedDeltaMulti(exact, "arm", "a", "b", "y",
      Seq("x1", "x2")).head()
    // k = 2: theta_1 at 3, theta_2 at 4; downstream indices shift by 1
    assert(math.abs(ex.getDouble(3) - 2.0) < 1e-9 &&
      math.abs(ex.getDouble(4) + 3.0) < 1e-9)
    // delta = the lift exactly; residual variance is 0 up to fp
    // cancellation (the max(0, ·) clamp can leave ~1e-15)
    assert(ex.getDouble(7) === 0.5 && ex.getDouble(8) < 1e-6)
    assert(ex.getDouble(10) === 0.0)                           // p
    // the verdict's done-pin: on a 2-covariate metric, adjusting for
    // BOTH cuts more variance than either alone
    val big = spark.range(400).select(
      concat(lit("arm"), (col("id") % 2).cast("string")).as("arm"),
      (((col("id") * 13) % 16).cast("double") / 32.0
        + ((col("id") * 7) % 16).cast("double") / 32.0
        + (col("id") % 2).cast("double") * 0.25).as("y"),
      (((col("id") * 13) % 16).cast("double") / 32.0).as("x1"),
      (((col("id") * 7) % 16).cast("double") / 32.0).as("x2"))
    val both = Classifier.cupedDeltaMulti(big, "arm", "arm0", "arm1",
      "y", Seq("x1", "x2")).head()
    val one = Classifier.cupedDeltaMulti(big, "arm", "arm0", "arm1",
      "y", Seq("x1")).head()
    // both is k = 2 (var_reduction at 13), one is k = 1 (at 12)
    assert(both.getDouble(13) > one.getDouble(12))
    assert(both.getDouble(13) > 0.5 && both.getBoolean(14))
    // k = 1 constant covariate keeps the cupedDelta grace (theta 0)
    val grace = Classifier.cupedDeltaMulti(
      log.select(col("arm"), col("y"), lit(5.0).as("x")),
      "arm", "a", "b", "y", Seq("x")).head()
    assert(grace.getDouble(3) === 0.0)
    // refusals: a COLLINEAR pair at k = 2 names the covariate; dup
    // names; k = 0; k > 16; NaN census; missing arm
    val coll = intercept[IllegalArgumentException](
      Classifier.cupedDeltaMulti(
        log.select(col("arm"), col("y"), col("x"),
          (col("x") * 2.0).as("x2")),
        "arm", "a", "b", "y", Seq("x", "x2")))
    assert(coll.getMessage.contains("x2"))
    intercept[IllegalArgumentException](Classifier.cupedDeltaMulti(
      log, "arm", "a", "b", "y", Seq("x", "x")))
    intercept[IllegalArgumentException](Classifier.cupedDeltaMulti(
      log, "arm", "a", "b", "y", Seq.empty))
    intercept[IllegalArgumentException](Classifier.cupedDeltaMulti(
      log.select(col("arm"), lit(Double.NaN).as("y"), col("x")),
      "arm", "a", "b", "y", Seq("x")))
    intercept[IllegalArgumentException](Classifier.cupedDeltaMulti(
      log.filter(col("arm") === "a"), "arm", "a", "b", "y", Seq("x")))
  }

  test("abExperimentReport: every leg equals its piecewise operator; constant metric sentinels the sequential leg; refusals") {
    import spark.implicits._
    val log = spark.range(240).select(
      concat(lit("arm"), (col("id") % 2).cast("string")).as("arm"),
      (((col("id") * 13) % 16).cast("double") / 16.0
        + (col("id") % 2).cast("double") * 0.25).as("y"),
      (((col("id") * 13) % 16).cast("double") / 16.0 * 0.5).as("x"),
      (((col("id") * 37) % 97) % 2).cast("int").as("succ"),
      concat(lit("g"), (col("id") % 3).cast("string")).as("slice"))
    val rep = Classifier.abExperimentReport(log, "arm", "arm0",
      "arm1", "y", "x", "succ", "slice", tau2 = 1.0)
      .orderBy("slice").collect()
    assert(rep.length === 3)
    def gd(r: org.apache.spark.sql.Row, nm: String) =
      r.getDouble(r.fieldIndex(nm))
    val g = rep.head
    // SRM leg == srmCheck (chi2 exact; p via the same closed form —
    // Column vs scalar exp is the documented ulp, under round9)
    val srm = Classifier.srmCheck(log.select("arm"), "arm",
      Seq("arm0" -> 0.5, "arm1" -> 0.5)).head()
    assert(gd(g, "srm_chi2") === srm.getDouble(6))
    assert(math.abs(gd(g, "srm_p") - srm.getDouble(8)) < 2e-9)
    assert(g.getBoolean(g.fieldIndex("srm")) === srm.getBoolean(9))
    // CUPED leg == cupedDelta, column for column (same chain)
    val cu = Classifier.cupedDelta(log.select("arm", "y", "x"), "arm",
      "arm0", "arm1", "y", "x").head()
    for ((nm, ci) <- Seq("theta" -> 2, "delta_raw" -> 3, "delta" -> 5,
        "se" -> 6, "z" -> 7, "p_value" -> 8, "ci_lo" -> 9,
        "ci_hi" -> 10, "var_reduction" -> 11))
      assert(gd(g, nm) === cu.getDouble(ci), nm)
    // slice leg == empiricalBayesRates, column for column
    val eb = Classifier.empiricalBayesRates(
      log.select("slice", "succ"), "slice", "succ")
      .orderBy("slice").collect()
    for ((er, rr) <- eb.zip(rep); i <- 0 until er.length)
      assert(rr.get(i) === er.get(i), s"eb column $i")
    // sequential leg == the windowed two-sample mSPRT (plug-in) on
    // the same rows in one window (1-ulp slack on the libm terms)
    val ts = log.select(expr("timestamp_seconds(1000)").as("ts"),
      col("arm"), col("y"))
    val seq = graft.streaming.EventStream.windowedAbMixtureSprt(ts,
      "arm", "arm0", "arm1", "y", None, tau2 = 1.0).head()
    assert(math.abs(gd(g, "seq_var") - seq.getDouble(5)) < 1e-8)
    assert(math.abs(gd(g, "seq_log_lambda") - seq.getDouble(6)) < 1e-8)
    assert(g.getBoolean(g.fieldIndex("seq_reject")) ===
      seq.getBoolean(8))
    assert(g.getBoolean(g.fieldIndex("seq_decidable")))
    // the globals repeat identically on every slice row
    for (nm <- Seq("srm_p", "delta", "seq_log_lambda"))
      assert(rep.map(gd(_, nm)).distinct.length === 1, nm)
    // constant metric: no scale to test against — the sequential leg
    // emits sentinels, the rest of the report stands
    val const = Classifier.abExperimentReport(
      log.select(col("arm"), lit(1.0).as("y"), col("x"), col("succ"),
        col("slice")),
      "arm", "arm0", "arm1", "y", "x", "succ", "slice").head()
    assert(!const.getBoolean(const.fieldIndex("seq_decidable")))
    assert(gd(const, "seq_log_lambda") === -1.0)
    assert(gd(const, "srm_p") >= 0.0) // srm leg still reports
    // refusals: weights, tau2, NaN metric
    intercept[IllegalArgumentException](Classifier.abExperimentReport(
      log, "arm", "arm0", "arm1", "y", "x", "succ", "slice",
      expectedWeights = (0.7, 0.2)))
    intercept[IllegalArgumentException](Classifier.abExperimentReport(
      log, "arm", "arm0", "arm1", "y", "x", "succ", "slice",
      tau2 = 0.0))
    intercept[IllegalArgumentException](Classifier.abExperimentReport(
      log.select(col("arm"), lit(Double.NaN).as("y"), col("x"),
        col("succ"), col("slice")),
      "arm", "arm0", "arm1", "y", "x", "succ", "slice"))
  }

  test("cupedDeltaBySlice: per-slice rows equal batch cupedDelta per slice; engineered reversal surfaces; one-armed slice sentinels; unit path counts units; refusal") {
    import spark.implicits._
    // 3 slices, lifts +.25 / +.25 / -.25: the pooled verdict is
    // positive while g2 reverses — the Simpson-style case the sliced
    // report exists to surface
    val log = spark.range(1200).select(
      concat(lit("g"), (col("id") % 3).cast("string")).as("slice"),
      concat(lit("arm"), (col("id") % 2).cast("string")).as("arm"),
      (((col("id") * 13) % 16).cast("double") / 16.0
        + (col("id") % 2).cast("double")
          * when(col("id") % 3 === 2, -0.25).otherwise(0.25)).as("y"),
      (((col("id") * 13) % 16).cast("double") / 32.0).as("x"))
    val out = Classifier.cupedDeltaBySlice(log, "arm", "arm0", "arm1",
      "y", "x", "slice").orderBy("slice").collect()
    assert(out.length === 3)
    // each slice row equals the batch operator on that slice's rows,
    // column for column (the single-sourced chain — exact)
    for (r <- out) {
      val solo = Classifier.cupedDelta(
        log.filter(col("slice") === r.getString(0)),
        "arm", "arm0", "arm1", "y", "x").head()
      assert(r.getLong(1) === solo.getLong(0)
        && r.getLong(2) === solo.getLong(1))
      for ((si, bi) <- Seq(3 -> 2, 4 -> 3, 5 -> 4, 6 -> 5, 7 -> 6,
          8 -> 7, 9 -> 8))
        assert(r.getDouble(si) === solo.getDouble(bi),
          s"${r.getString(0)} sliced($si) vs batch($bi)")
      assert(r.getBoolean(10))
    }
    // the reversal: pooled positive and significant, g2 negative and
    // significant — the pooled number alone ships the wrong variant
    // to a third of the traffic
    val pooled = Classifier.cupedDelta(log, "arm", "arm0", "arm1",
      "y", "x").head()
    assert(pooled.getDouble(5) > 0.0 && pooled.getBoolean(12))
    val g2 = out(2)
    assert(g2.getString(0) === "g2" && g2.getDouble(6) < 0.0
      && g2.getDouble(9) < 0.05)
    // a slice with only one arm emits the sentinel row, the rest of
    // the report stands
    val withSolo = log.unionByName(spark.range(10).select(
      lit("solo").as("slice"), lit("arm0").as("arm"),
      (col("id") % 3).cast("double").as("y"),
      (col("id") % 2).cast("double").as("x")))
    val solo = Classifier.cupedDeltaBySlice(withSolo, "arm", "arm0",
      "arm1", "y", "x", "slice").orderBy("slice").collect()
    assert(solo.length === 4 && !solo(3).getBoolean(10))
    assert(solo(3).getDouble(6) === -1.0)
    assert(solo(0).getBoolean(10)) // the healthy slices still report
    // unit path: n_a/n_b count units
    val unitized = log.select(col("slice"), col("arm"),
      (col("y") * 0.0 + monotonically_increasing_id() % 50).as("u"),
      col("y"), col("x"))
    val uo = Classifier.cupedDeltaBySlice(unitized, "arm", "arm0",
      "arm1", "y", "x", "slice", unitCol = Some("u"))
      .orderBy("slice").collect()
    assert(uo.forall(r => r.getLong(1) <= 50 && r.getLong(2) <= 50))
    // census refusal
    intercept[IllegalArgumentException](Classifier.cupedDeltaBySlice(
      log.select(col("slice"), col("arm"),
        lit(Double.NaN).as("y"), col("x")),
      "arm", "arm0", "arm1", "y", "x", "slice"))
  }

  test("cupedDelta unitCol: singleton units equal the row path; correlated events expose the anti-conservative iid SE; poisoned unit refuses") {
    import spark.implicits._
    val base = Seq(
      ("a", 0.0, 1.0), ("a", 1.0, 3.0), ("a", 0.0, 0.0),
      ("a", 1.0, 2.0),
      ("b", 1.0, 2.0), ("b", 1.0, 4.0), ("b", 2.0, 1.0),
      ("b", 2.0, 3.0)).zipWithIndex
      .map { case ((a, y, x), i) => (a, i.toLong, y, x) }
      .toDF("arm", "u", "y", "x")
    // one row per unit: the unit path IS the row path, column for
    // column (unit totals of singletons are the rows)
    val byRow = Classifier.cupedDelta(base, "arm", "a", "b", "y", "x")
      .head()
    val byUnit = Classifier.cupedDelta(base, "arm", "a", "b", "y", "x",
      unitCol = Some("u")).head()
    for (i <- 0 until byRow.length)
      assert(byUnit.get(i) === byRow.get(i), s"column $i")
    // the anti-conservative case the r19 verdict named: replicate
    // every unit's row 10x (perfect within-unit correlation). The
    // iid-row path sees 80 "independent" rows and its SE shrinks by
    // ~1/sqrt(10); the unit path still sees 8 independent units (unit
    // totals scale by 10, z is scale-invariant) — so p_unit stays at
    // the honest 8-row level while p_iid collapses.
    val rep = base.crossJoin(spark.range(10).select(lit(1).as("__k")))
      .select(col("arm"), col("u"), col("y"), col("x"))
    val iid = Classifier.cupedDelta(rep, "arm", "a", "b", "y", "x")
      .head()
    val unit = Classifier.cupedDelta(rep, "arm", "a", "b", "y", "x",
      unitCol = Some("u")).head()
    assert(unit.getLong(0) === 4L && unit.getLong(1) === 4L) // units
    assert(iid.getLong(0) === 40L)
    // z is invariant under the x10 unit-total scaling -> p matches
    // the honest 8-row analysis (1-ulp slack for the scaled doubles)
    assert(math.abs(unit.getDouble(8) - byRow.getDouble(8)) < 1e-9)
    // and the iid path is anti-conservative: smaller p, smaller se
    assert(iid.getDouble(8) < unit.getDouble(8))
    assert(iid.getDouble(6) < unit.getDouble(6) / 3.0)
    // a null metric row poisons its unit and refuses (never silently
    // corrupts the unit total), message speaks in units
    val ex = intercept[IllegalArgumentException](Classifier.cupedDelta(
      base.select(col("arm"), col("u"),
        when(col("u") === 0L, lit(null).cast("double"))
          .otherwise(col("y")).as("y"), col("x")),
      "arm", "a", "b", "y", "x", unitCol = Some("u")))
    assert(ex.getMessage.contains("unit"))
  }

  test("ratioMetricDelta: hand delta-method case, identical arms p = 1, refusals incl. zero-exposure arm") {
    import spark.implicits._
    // units (arm, unit, clicks, imps): a has units (1,4),(3,4); b has
    // (2,4),(4,4) -> Ra = .5, Rb = .75, var = 1/16 each arm
    val log = Seq(
      ("a", 1L, 1.0, 4.0), ("a", 2L, 3.0, 4.0),
      ("b", 3L, 2.0, 4.0), ("b", 4L, 4.0, 4.0))
      .toDF("arm", "u", "y", "d")
    val r = Classifier.ratioMetricDelta(log, "arm", "a", "b", "y", "d",
      "u").head()
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === 0.5 && r.getDouble(3) === 0.75)
    assert(r.getDouble(4) === 0.25)
    assert(r.getDouble(5) === graft.ops.Num.round9(math.sqrt(0.125)))
    assert(math.abs(r.getDouble(6) - 0.25 / math.sqrt(0.125)) < 1e-9)
    val pHand = math.min(1.0, graft.ops.Num.erfcc(
      (0.25 / math.sqrt(0.125)) / math.sqrt(2.0)))
    assert(math.abs(r.getDouble(7) - pHand) < 1e-8)
    assert(!r.getBoolean(10))
    // multi-row units fold into totals first: splitting each unit's
    // row into two half-rows changes nothing
    val split = log.flatMap { row =>
      val (a, u, y, d) = (row.getString(0), row.getLong(1),
        row.getDouble(2), row.getDouble(3))
      Seq((a, u, y / 2.0, d / 2.0), (a, u, y / 2.0, d / 2.0))
    }.toDF("arm", "u", "y", "d")
    val r2 = Classifier.ratioMetricDelta(split, "arm", "a", "b", "y",
      "d", "u").head()
    for (i <- 0 until r.length)
      assert(r2.get(i) === r.get(i), s"column $i")
    // identical arms: delta 0, p pins at 1
    val same = Classifier.ratioMetricDelta(Seq(
      ("a", 1L, 1.0, 4.0), ("a", 2L, 3.0, 4.0),
      ("b", 3L, 1.0, 4.0), ("b", 4L, 3.0, 4.0))
      .toDF("arm", "u", "y", "d"), "arm", "a", "b", "y", "d", "u")
      .head()
    assert(same.getDouble(4) === 0.0 && same.getDouble(7) === 1.0)
    // refusals: < 2 units, zero-exposure arm, negative denominator,
    // NaN numerator, missing arm, same arms, alpha
    intercept[IllegalArgumentException](Classifier.ratioMetricDelta(
      log.filter(col("u") =!= 1L), "arm", "a", "b", "y", "d", "u"))
    intercept[IllegalArgumentException](Classifier.ratioMetricDelta(
      log.select(col("arm"), col("u"), col("y"),
        when(col("arm") === "a", 0.0).otherwise(col("d")).as("d")),
      "arm", "a", "b", "y", "d", "u"))
    intercept[IllegalArgumentException](Classifier.ratioMetricDelta(
      log.select(col("arm"), col("u"), col("y"), lit(-1.0).as("d")),
      "arm", "a", "b", "y", "d", "u"))
    intercept[IllegalArgumentException](Classifier.ratioMetricDelta(
      log.select(col("arm"), col("u"), lit(Double.NaN).as("y"),
        col("d")), "arm", "a", "b", "y", "d", "u"))
    intercept[IllegalArgumentException](Classifier.ratioMetricDelta(
      log.filter(col("arm") === "a"), "arm", "a", "b", "y", "d", "u"))
    intercept[IllegalArgumentException](Classifier.ratioMetricDelta(
      log, "arm", "a", "a", "y", "d", "u"))
    intercept[IllegalArgumentException](Classifier.ratioMetricDelta(
      log, "arm", "a", "b", "y", "d", "u", alpha = 0.9))
  }

  test("empiricalBayesRates: hand 2-slice shrinkage, identical slices collapse to the pool, shrink monotone in n, refusals") {
    import spark.implicits._
    // slice g1: 4 trials 2 successes (p = .5); g2: 2 trials 2
    // successes (p = 1). pbar = 2/3, tau2 = 1/24 — the SMALL extreme
    // slice shrinks harder: B1 = 3/7, B2 = 3/11
    val df = Seq(("g1", 1), ("g1", 1), ("g1", 0), ("g1", 0),
      ("g2", 1), ("g2", 1)).toDF("slice", "succ")
    val out = Classifier.empiricalBayesRates(df, "slice", "succ")
      .orderBy("slice").collect()
    assert(out.length === 2)
    assert(out(0).getLong(1) === 4L && out(0).getLong(2) === 2L)
    assert(out(0).getDouble(3) === 0.5)
    assert(math.abs(out(0).getDouble(4) - 3.0 / 7.0) < 1e-9)
    assert(math.abs(out(0).getDouble(5) - (2.0 / 3.0 - 1.0 / 14.0))
      < 1e-9)
    assert(math.abs(out(1).getDouble(4) - 3.0 / 11.0) < 1e-9)
    assert(math.abs(out(1).getDouble(5) - (2.0 / 3.0 + 1.0 / 11.0))
      < 1e-9)
    // identical slice rates: tau2 = 0, every slice collapses to the
    // pooled rate with shrink factor 0
    val flat = Seq(("a", 1), ("a", 0), ("b", 1), ("b", 0))
      .toDF("slice", "succ")
    val fo = Classifier.empiricalBayesRates(flat, "slice", "succ")
      .collect()
    assert(fo.forall(r => r.getDouble(4) === 0.0 &&
      r.getDouble(5) === 0.5))
    // shrink factor is monotone in slice size: the 100-row slice
    // keeps far more of its own rate than the 4-row slice
    val sized = (Seq.fill(50)(("big", 1)) ++ Seq.fill(50)(("big", 0)) ++
      Seq.fill(4)(("tiny", 1))).toDF("slice", "succ")
    val so = Classifier.empiricalBayesRates(sized, "slice", "succ")
      .orderBy("slice").collect()
    assert(so(0).getDouble(4) > so(1).getDouble(4))
    // refusals: single slice, non-binary success, maxSlices, empty
    intercept[IllegalArgumentException](Classifier.empiricalBayesRates(
      df.filter(col("slice") === "g1"), "slice", "succ"))
    intercept[IllegalArgumentException](Classifier.empiricalBayesRates(
      Seq(("a", 2), ("b", 1)).toDF("slice", "succ"), "slice", "succ"))
    intercept[IllegalArgumentException](Classifier.empiricalBayesRates(
      (Seq(("a", 1), ("b", 0), ("c", 1))).toDF("slice", "succ"),
      "slice", "succ", maxSlices = 2))
    intercept[IllegalArgumentException](Classifier.empiricalBayesRates(
      df.filter(lit(false)), "slice", "succ"))
  }

  test("sampleSizeBySlice: hand two-proportion n, infeasible target sentinel, n monotone in mde, refusals") {
    import spark.implicits._
    // slice "a": p = .5 over 4 rows; slice "z": p = 1 over 2 rows —
    // the mde = .05 target leaves [0, 1] on z, which gets the -1
    // sentinel (no experiment detects a lift past the boundary)
    val df = Seq(("a", 1), ("a", 1), ("a", 0), ("a", 0),
      ("z", 1), ("z", 1)).toDF("slice", "succ")
    val out = Classifier.sampleSizeBySlice(df, "slice", "succ",
      mde = 0.05).orderBy("slice").collect()
    // hand formula at p0 = .5: p1 = .55, pbar = .525
    val e = 1.959964 * math.sqrt(2.0 * 0.525 * (1.0 - 0.525)) +
      0.841621234 * math.sqrt(0.5 * 0.5 + 0.55 * (1.0 - 0.55))
    val handN = graft.ops.Num.round9(e * e / (0.05 * 0.05))
    assert(out(0).getDouble(3) === 0.5)
    assert(out(0).getDouble(4) === 0.55)
    assert(math.abs(out(0).getDouble(5) - handN) < 1e-6)
    assert(math.abs(out(0).getDouble(6)
      - graft.ops.Num.round9(2.0 * (handN / 4.0))) < 1e-5)
    // ~1565 per arm at a 5-point lift from 50% — the familiar number
    assert(out(0).getDouble(5) > 1500 && out(0).getDouble(5) < 1600)
    // infeasible slice: rate 1.0, target and plan are the sentinel
    assert(out(1).getDouble(3) === 1.0)
    assert(out(1).getDouble(4) === -1.0)
    assert(out(1).getDouble(5) === -1.0 &&
      out(1).getDouble(6) === -1.0)
    // halving the MDE roughly quadruples the requirement
    val fine = Classifier.sampleSizeBySlice(df, "slice", "succ",
      mde = 0.025).orderBy("slice").collect()
    assert(fine(0).getDouble(5) > 3.5 * out(0).getDouble(5))
    // refusals: mde out of range, non-binary success, empty
    intercept[IllegalArgumentException](Classifier.sampleSizeBySlice(
      df, "slice", "succ", mde = 0.0))
    intercept[IllegalArgumentException](Classifier.sampleSizeBySlice(
      Seq(("a", 3)).toDF("slice", "succ"), "slice", "succ", 0.05))
    intercept[IllegalArgumentException](Classifier.sampleSizeBySlice(
      df.filter(lit(false)), "slice", "succ", 0.05))
  }

  test("judgeBiasReport: hand position effect + verbosity correlation, balanced judge, refusals") {
    import spark.implicits._
    // 8 comparisons: A wins 3/4 shown first, 1/4 shown second — a
    // position-biased judge; A-wins carry positive length deltas
    val log = Seq(
      ("a", true, 20.0, 10.0), ("a", true, 20.0, 10.0),
      ("a", true, 16.0, 10.0), ("b", true, 10.0, 20.0),
      ("a", false, 20.0, 10.0), ("b", false, 10.0, 20.0),
      ("b", false, 10.0, 20.0), ("b", false, 10.0, 16.0))
      .toDF("winner", "fst", "la", "lb")
    val r = Classifier.judgeBiasReport(log, "winner", "fst", "la",
      "lb").head()
    assert(r.getLong(0) === 8L)
    assert(r.getDouble(1) === 0.5)                    // raw win_a
    assert(r.getDouble(2) === 0.75)                   // A-first rate
    assert(r.getDouble(3) === 0.25)                   // A-second rate
    assert(r.getDouble(4) === 0.5)                    // position effect
    assert(r.getDouble(5) === graft.ops.Num.round9(
      0.5 / math.sqrt(0.5 * 0.5 * (0.25 + 0.25))))    // two-prop z
    assert(r.getDouble(7) === 0.5)                    // debiased
    // verbosity: sw=4 sd=0 sdd=672 swd=36 -> r = 36/sqrt(2*672)
    assert(r.getDouble(8) === graft.ops.Num.round9(
      36.0 / math.sqrt(2.0 * 672.0)))
    assert(r.getDouble(10) < 0.001)                   // len bias real
    // balanced judge: winner independent of position and length
    val fair = Seq(
      ("a", true, 10.0, 10.0), ("b", true, 10.0, 10.0),
      ("a", false, 10.0, 10.0), ("b", false, 10.0, 10.0))
      .toDF("winner", "fst", "la", "lb")
    val fr = Classifier.judgeBiasReport(fair, "winner", "fst", "la",
      "lb").head()
    assert(fr.getDouble(4) === 0.0 && fr.getDouble(6) === 1.0)
    assert(fr.getDouble(8) === 0.0 && fr.getDouble(10) === 1.0)
    assert(fr.getDouble(7) === fr.getDouble(1))
    // custom winner labels pass through
    val custom = Classifier.judgeBiasReport(
      log.select(when(col("winner") === "a", "x").otherwise("y")
        .as("winner"), col("fst"), col("la"), col("lb")),
      "winner", "fst", "la", "lb", winnerA = "x", winnerB = "y").head()
    assert(custom.getDouble(2) === 0.75)
    // refusals: single-position log (message carries the ACTUAL
    // counts — review-fixed interpolator), unknown winner value,
    // negative length, empty
    val onePos = intercept[IllegalArgumentException](
      Classifier.judgeBiasReport(
        log.filter(col("fst")), "winner", "fst", "la", "lb"))
    assert(onePos.getMessage.contains("4 first of 4") &&
      !onePos.getMessage.contains("$n"))
    intercept[IllegalArgumentException](Classifier.judgeBiasReport(
      log.select(lit("c").as("winner"), col("fst"), col("la"),
        col("lb")), "winner", "fst", "la", "lb"))
    intercept[IllegalArgumentException](Classifier.judgeBiasReport(
      log.select(col("winner"), col("fst"), lit(-1.0).as("la"),
        col("lb")), "winner", "fst", "la", "lb"))
    intercept[IllegalArgumentException](Classifier.judgeBiasReport(
      log.filter(lit(false)), "winner", "fst", "la", "lb"))
  }

  test("Num.chi2P: closed-form chi-square tail at integer df — published 5% quantiles, df=1 equals chi2P1, Column parity") {
    import graft.ops.Num
    // the familiar 95% quantiles (3 decimals) land on p = 0.05
    for ((x, df) <- Seq((3.841, 1), (5.991, 2), (7.815, 3),
        (9.488, 4), (11.070, 5), (15.507, 8)))
      assert(math.abs(Num.chi2P(x, df) - 0.05) < 1e-3,
        s"df=$df x=$x -> ${Num.chi2P(x, df)}")
    // even df is PURE exp·Horner — no erfc fit error at all: df = 2
    // is exactly exp(−x/2)
    assert(Num.chi2P(5.991, 2) === math.exp(-5.991 / 2.0))
    // df = 1 reduces to the existing chi2P1 term for term
    for (x <- Seq(0.5, 1.0, 2.0, 4.0, 10.0))
      assert(Num.chi2P(x, 1) === Num.chi2P1(x))
    // boundary + monotonicity
    assert(Num.chi2P(0.0, 3) === 1.0)
    assert(Num.chi2P(5.0, 3) > Num.chi2P(10.0, 3))
    // a larger df at the same statistic is LESS surprising
    assert(Num.chi2P(10.0, 8) > Num.chi2P(10.0, 2))
    // df bounds refuse
    intercept[IllegalArgumentException](Num.chi2P(1.0, 0))
    intercept[IllegalArgumentException](Num.chi2P(1.0, 129))
    // Column form = the same chain (codegen exp vs Math intrinsic:
    // the documented 1-ulp surface, absorbed well below 1e-9)
    import spark.implicits._
    val stats = Seq(0.5, 3.841, 7.815, 20.0).toDF("s")
    for (df <- Seq(1, 2, 3, 4, 7)) {
      val got = stats.select(Num.chi2PCol(col("s"), df).as("p"))
        .collect().map(_.getDouble(0))
      val want = Seq(0.5, 3.841, 7.815, 20.0).map(Num.chi2P(_, df))
      for ((g, w) <- got.zip(want))
        assert(math.abs(g - w) < 1e-9, s"df=$df: $g vs $w")
    }
  }

  test("srmCheck: hand chi2 on a biased split, per-arm rows, balanced design passes, 4-arm general-df path, refusals") {
    import spark.implicits._
    // 60/40 on a declared 50/50: chi2 = 100/50 + 100/50 = 4
    val biased = (Seq.fill(60)("a") ++ Seq.fill(40)("b")).toDF("arm")
    val r = Classifier.srmCheck(biased, "arm",
      Seq("a" -> 0.5, "b" -> 0.5), alpha = 0.05)
      .orderBy("arm").collect()
    assert(r.length === 2)
    val a = r(0)
    assert(a.getString(0) === "a" && a.getLong(1) === 60L)
    assert(a.getDouble(2) === 50.0 && a.getDouble(3) === 0.6)
    assert(a.getDouble(4) === 0.5 && a.getLong(5) === 100L)
    assert(a.getDouble(6) === 4.0 && a.getInt(7) === 1)
    assert(a.getDouble(8) === graft.ops.Num.round9(
      graft.ops.Num.chi2P(4.0, 1)))
    assert(a.getBoolean(9))             // flagged at alpha = 0.05
    assert(r(1).getString(0) === "b" && r(1).getLong(1) === 40L)
    // every row carries the same global verdict
    assert(r.map(_.getDouble(6)).distinct.length === 1)
    // the same split at the conventional 0.001 does NOT fire (p ~ .046)
    val strict = Classifier.srmCheck(biased, "arm",
      Seq("a" -> 0.5, "b" -> 0.5)).head()
    assert(!strict.getBoolean(9))
    // an exactly balanced design: chi2 = 0, p pins at 1, no flag
    val even = (Seq.fill(50)("a") ++ Seq.fill(50)("b")).toDF("arm")
    val e = Classifier.srmCheck(even, "arm",
      Seq("a" -> 0.5, "b" -> 0.5)).head()
    assert(e.getDouble(6) === 0.0 && e.getDouble(8) === 1.0
      && !e.getBoolean(9))
    // 4 arms at 25% each, observed 40/30/20/10: chi2 = 20, df = 3 —
    // the general closed form (erfc base + Horner) fires at 0.001
    val four = (Seq.fill(40)("a") ++ Seq.fill(30)("b")
      ++ Seq.fill(20)("c") ++ Seq.fill(10)("d")).toDF("arm")
    val f = Classifier.srmCheck(four, "arm",
      Seq("a" -> 0.25, "b" -> 0.25, "c" -> 0.25, "d" -> 0.25))
      .head()
    assert(f.getDouble(6) === 20.0 && f.getInt(7) === 3)
    assert(f.getDouble(8) === graft.ops.Num.round9(
      graft.ops.Num.chi2P(20.0, 3)))
    assert(f.getBoolean(9))
    // refusals: an arm OUTSIDE the declared design (and null arms)
    val ex = intercept[IllegalArgumentException](Classifier.srmCheck(
      (Seq("a", "b", "c")).toDF("arm"), "arm",
      Seq("a" -> 0.5, "b" -> 0.5)))
    assert(ex.getMessage.contains("outside the declared design"))
    intercept[IllegalArgumentException](Classifier.srmCheck(
      Seq(Some("a"), None, Some("b")).toDF("arm"), "arm",
      Seq("a" -> 0.5, "b" -> 0.5)))
    // design validation: duplicates, bad weights, bad alpha, 1 arm
    intercept[IllegalArgumentException](Classifier.srmCheck(
      biased, "arm", Seq("a" -> 0.5, "a" -> 0.5)))
    intercept[IllegalArgumentException](Classifier.srmCheck(
      biased, "arm", Seq("a" -> 0.5, "b" -> 0.4)))
    intercept[IllegalArgumentException](Classifier.srmCheck(
      biased, "arm", Seq("a" -> 1.0, "b" -> 0.0)))
    intercept[IllegalArgumentException](Classifier.srmCheck(
      biased, "arm", Seq("a" -> 0.5, "b" -> 0.5), alpha = 0.6))
    intercept[IllegalArgumentException](Classifier.srmCheck(
      biased, "arm", Seq("a" -> 1.0)))
    intercept[IllegalArgumentException](Classifier.srmCheck(
      biased.filter(lit(false)), "arm", Seq("a" -> 0.5, "b" -> 0.5)))
  }

  test("judgeBiasReport ties: half-credit rates, Bernoulli test on decisive rows only, zero-tie log equals the binary path, refusals") {
    import spark.implicits._
    // 2 ties among 8: first = (a, a, tie, b), second = (a, b, tie, b)
    val log = Seq(
      ("a", true, 10.0, 10.0), ("a", true, 10.0, 10.0),
      ("tie", true, 10.0, 10.0), ("b", true, 10.0, 10.0),
      ("a", false, 10.0, 10.0), ("b", false, 10.0, 10.0),
      ("tie", false, 10.0, 10.0), ("b", false, 10.0, 10.0))
      .toDF("winner", "fst", "la", "lb")
    val r = Classifier.judgeBiasReport(log, "winner", "fst", "la",
      "lb", tieValue = Some("tie")).head()
    assert(r.getLong(0) === 8L)
    assert(r.getDouble(1) === 0.5)          // (2+1+0.5*2)/8
    assert(r.getDouble(2) === 0.625)        // (2+0.5)/4 half credit
    assert(r.getDouble(3) === 0.375)        // (1+0.5)/4
    assert(r.getDouble(7) === 0.5)          // debiased
    assert(r.getDouble(11) === 0.25)        // tie_rate
    // the Bernoulli test runs on DECISIVE rows: 2/3 vs 1/3
    assert(math.abs(r.getDouble(4) - 1.0 / 3.0) < 1e-9)
    assert(math.abs(r.getDouble(5)
      - (1.0 / 3.0) / math.sqrt(1.0 / 6.0)) < 1e-9)
    // equal lengths: no verbosity signal even with ties in aw
    assert(r.getDouble(8) === 0.0 && r.getDouble(10) === 1.0)
    // a tie-free log through the tie path = the binary path, column
    // for column (every formula degrades term for term)
    val binary = Seq(
      ("a", true, 20.0, 10.0), ("b", true, 10.0, 20.0),
      ("a", false, 20.0, 10.0), ("b", false, 10.0, 16.0))
      .toDF("winner", "fst", "la", "lb")
    val viaTie = Classifier.judgeBiasReport(binary, "winner", "fst",
      "la", "lb", tieValue = Some("tie")).head()
    val legacy = Classifier.judgeBiasReport(binary, "winner", "fst",
      "la", "lb").head()
    for (i <- 0 until legacy.length)
      assert(viaTie.get(i) === legacy.get(i), s"column $i")
    assert(viaTie.getDouble(11) === 0.0)
    // refusals: tie label colliding with a winner label; a log whose
    // decisive rows all sit in one position; tie rows without a
    // declared tieValue still refuse as unknown winners
    intercept[IllegalArgumentException](Classifier.judgeBiasReport(
      log, "winner", "fst", "la", "lb", tieValue = Some("a")))
    val oneSide = Seq(
      ("tie", true, 1.0, 1.0), ("tie", true, 1.0, 1.0),
      ("a", false, 1.0, 1.0), ("b", false, 1.0, 1.0))
      .toDF("winner", "fst", "la", "lb")
    val ex = intercept[IllegalArgumentException](
      Classifier.judgeBiasReport(oneSide, "winner", "fst", "la", "lb",
        tieValue = Some("tie")))
    assert(ex.getMessage.contains("DECISIVE"))
    intercept[IllegalArgumentException](Classifier.judgeBiasReport(
      log, "winner", "fst", "la", "lb"))
  }

  test("properScoresMulticlass: maxClasses enforces the K-regime contract") {
    import spark.implicits._
    val rows = Seq((Seq(0.5, 0.25, 0.25), 0), (Seq(0.25, 0.5, 0.25), 1))
      .toDF("probs", "label")
    val ex = intercept[IllegalArgumentException](
      Classifier.properScoresMulticlass(rows, "probs", "label",
        bins = 4, maxClasses = 2))
    assert(ex.getMessage.contains("maxClasses"))
    assert(ex.getMessage.contains("posexplode"))
    // at the bound it runs
    assert(Classifier.properScoresMulticlass(rows, "probs", "label",
      bins = 4, maxClasses = 3).count() === 4)
  }

  test("empty frames refuse loudly across the evaluation family") {
    import spark.implicits._
    // review-fixed: these previously returned a silent all-null row
    // (cohenKappa) or threw a bare NPE (rocAuc, calibrationReport)
    val pairs = Seq.empty[(String, String)].toDF("a", "b")
    val scores = Seq.empty[(Double, Double)].toDF("s", "y")
    intercept[IllegalArgumentException](
      Classifier.cohenKappa(pairs, "a", "b"))
    intercept[IllegalArgumentException](
      Classifier.rocAuc(scores, "s", "y"))
    intercept[IllegalArgumentException](
      Classifier.calibrationReport(scores, "s", "y"))
    intercept[IllegalArgumentException](
      Classifier.chiSquareIndependence(pairs, "a", "b"))
    intercept[IllegalArgumentException](
      Classifier.twoProportionZ(scores.toDF("g", "y"), "g", "y"))
  }
}
