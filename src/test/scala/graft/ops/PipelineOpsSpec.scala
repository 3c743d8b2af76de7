package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Specs for the round-6 training-pipeline operators: repetition metrics,
  * PII redaction, deterministic sampling, sequence packing, benchmark
  * decontamination, SemDeDup.
  */
class RepetitionSpec extends SparkSpec {
  import spark.implicits._

  test("ngram repetition fractions match hand counts") {
    val df = Seq((1L, "a b a b a")).toDF("doc_id", "text")
    val r = df.select(
      TextAnalysis.topNgramFrac(col("text"), 1).as("tw"),
      TextAnalysis.dupNgramFrac(col("text"), 2).as("d2"),
      TextAnalysis.topNgramFrac(col("text"), 2).as("t2"),
      TextAnalysis.dupNgramFrac(col("text"), 3).as("d3")).head()
    // tokens a,b,a,b,a: top word 3/5; bigrams {ab,ba,ab,ba}: dup 2/4, top 2/4;
    // trigrams {aba,bab,aba}: dup 1/3
    assert(r.getDouble(0) === 0.6)
    assert(r.getDouble(1) === 0.5)
    assert(r.getDouble(2) === 0.5)
    assert(math.abs(r.getDouble(3) - 1.0 / 3) < 1e-12)
  }

  test("duplicate line/paragraph fractions match hand counts") {
    // lines: x, y, x, z (x duplicated once); paragraphs "x\ny" and "x\nz"
    // are distinct
    val text = "x\ny\n\nx\nz"
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val r = TextAnalysis.dupSegmentMetrics(df, "text").head()
    assert(r.getAs[Double]("dup_line_frac") === 0.25)     // 4 lines, 3 distinct
    assert(r.getAs[Double]("dup_line_char_frac") === 0.25) // 4 chars, 1 dup char
    assert(r.getAs[Double]("dup_para_frac") === 0.0)
    assert(r.getAs[Double]("dup_para_char_frac") === 0.0)

    // duplicated paragraph, char-weighted: "ab\ncd" twice + "e" once ->
    // paras 3, distinct 2 -> dup 1/3; chars 5+5+1=11, distinct 6 -> 5/11
    val t2 = "ab\ncd\n\nab\ncd\n\ne"
    val r2 = TextAnalysis.dupSegmentMetrics(
      Seq((1L, t2)).toDF("doc_id", "text"), "text").head()
    assert(math.abs(r2.getAs[Double]("dup_para_frac") - 1.0 / 3) < 1e-12)
    assert(math.abs(r2.getAs[Double]("dup_para_char_frac") - 5.0 / 11) < 1e-12)
  }

  test("duplicate segments: empty and whitespace-only text give zero, not NaN") {
    val df = Seq((1L, ""), (2L, "   \n  \n\n "), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val rs = TextAnalysis.dupSegmentMetrics(df, "text").orderBy("doc_id").collect()
    for (r <- rs.take(2); c <- Seq("dup_line_frac", "dup_line_char_frac",
        "dup_para_frac", "dup_para_char_frac"))
      assert(r.getAs[Double](c) === 0.0, s"doc ${r.getLong(0)} $c")
    // null text propagates null (no fabricated zero for missing data)
    assert(rs(2).isNullAt(rs(2).fieldIndex("dup_line_frac")))
  }

  test("short texts: n-gram windows beyond length give zero, not NaN") {
    val df = Seq((1L, "solo")).toDF("doc_id", "text")
    val r = df.select(
      TextAnalysis.topNgramFrac(col("text"), 1).as("t1"),
      TextAnalysis.dupNgramFrac(col("text"), 2).as("d2")).head()
    assert(r.getDouble(0) === 1.0) // one token, itself the top
    assert(r.getDouble(1) === 0.0) // no bigrams at all
  }

  test("filterReason rule precedence: first failing rule names the drop") {
    val docs = Seq(
      (1L, "a b a b a"), // 5 tokens -> too_short
      // 16 tokens, one word 4x -> top_word_frac 0.25 fires before dup rules
      (2L, "x x x x b c d e f g h i j k l m")
    ).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
      TextAnalysis.filterReason(col("text")).as("reason"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "too_short")
    assert(out(2L) === "top_word_frac")
  }

  test("real corpus: filter discriminates (keeps some, drops some)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val byReason = docs.select(TextAnalysis.filterReason(col("text")).as("r"))
      .groupBy("r").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byReason.getOrElse("keep", 0L) > 0, s"nothing kept: $byReason")
    assert(byReason.size > 1, s"filter dropped nothing: $byReason")
  }
}

class PiiSpec extends SparkSpec {
  import spark.implicits._

  private def redact(s: String): String =
    Seq(s).toDF("t").select(TextAnalysis.redactPii(col("t"))).head().getString(0)

  test("redacts email, ip, ssn, phone to placeholder tokens") {
    assert(redact("mail bob.smith@corp.io now") === "mail <EMAIL> now")
    assert(redact("host 10.0.0.1 up") === "host <IP> up")
    assert(redact("ssn 123-45-6789.") === "ssn <SSN>.")
    assert(redact("call 555-123-4567 or 555.123.4567") ===
      "call <PHONE> or <PHONE>")
  }

  test("pattern order: IP is not half-eaten as a dotted phone") {
    assert(redact("ping 192.168.100.200 then 123.456.7890") ===
      "ping <IP> then <PHONE>")
  }

  test("piiCounts counts per pattern on progressively-redacted text") {
    val s = "a@b.co c@d.org 10.0.0.1 555-123-4567"
    val counts = Seq(s).toDF("t")
      .select(TextAnalysis.piiCounts(col("t")).map { case (n, c) => c.as(n) }: _*)
      .head()
    assert(counts.getInt(0) === 2) // emails
    assert(counts.getInt(1) === 1) // ip
    assert(counts.getInt(2) === 0) // ssn
    assert(counts.getInt(3) === 1) // phone
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("threshold hex encodes the keep fraction") {
    assert(Sampling.thresholdHex(0.5) === "80000000")
    assert(Sampling.thresholdHex(0.0) === "00000000")
    assert(Sampling.thresholdHex(1.0) === "g") // keeps even hash ffffffff
  }

  test("deterministic sample: exact edge fractions, ~binomial middle, stable") {
    val ids = (0L until 1000L).toDF("id")
    assert(Sampling.deterministicSample(ids, "id", 1.0).count() === 1000)
    assert(Sampling.deterministicSample(ids, "id", 0.0).count() === 0)
    val n = Sampling.deterministicSample(ids, "id", 0.5).count()
    assert(n > 400 && n < 600, s"p=0.5 kept $n of 1000")
    val a = Sampling.deterministicSample(ids, "id", 0.3).select("id").collect().toSet
    val b = Sampling.deterministicSample(ids, "id", 0.3).select("id").collect().toSet
    assert(a === b)
    // nested property: the p=0.3 sample is a subset of the p=0.5 sample
    // (same hash, larger threshold) — the reproducibility guarantee that
    // makes ablation subsets consistent
    val big = Sampling.deterministicSample(ids, "id", 0.5).select("id").collect().toSet
    assert(a.subsetOf(big))
  }

  test("sampleByWeight: weight-proportional without replacement, stable") {
    val rows = (0L until 2000L).map(i => (i, if (i < 100) 50.0 else 1.0))
    val df = rows.toDF("id", "w")
    val out = Sampling.sampleByWeight(df, "id", col("w"), n = 200)
      .select("id").as[Long].collect().toSet
    assert(out.size === 200)
    // the 100 heavy rows (50x weight) should nearly all be drawn; a
    // uniform draw would pick ~10 of them
    val heavy = out.count(_ < 100L)
    assert(heavy > 75, s"only $heavy of 100 heavy rows drawn")
    // deterministic under repartitioning
    val again = Sampling.sampleByWeight(df.repartition(13), "id",
        col("w"), n = 200)
      .select("id").as[Long].collect().toSet
    assert(again === out)
    // without-replacement: ids are distinct by construction (a set of
    // 200 from limit 200 proves no duplicates survived)
  }

  test("sampleByWeight: zero weights only drawn when positives run out") {
    val df = Seq((1L, 2.0), (2L, 0.0), (3L, 1.0), (4L, 0.0))
      .toDF("id", "w")
    val two = Sampling.sampleByWeight(df, "id", col("w"), n = 2)
      .select("id").as[Long].collect().toSet
    assert(two === Set(1L, 3L))
    val three = Sampling.sampleByWeight(df, "id", col("w"), n = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(three.keySet.contains(1L) && three.keySet.contains(3L))
    assert((three.keySet - 1L - 3L).forall(i => three(i).isInfinity))
  }

  test("sampleByWeight: null and negative weights fail loudly; plan is top-k") {
    val df = Seq((1L, 1.0), (2L, -1.0)).toDF("id", "w")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val ex = intercept[Exception] {
      Sampling.sampleByWeight(df, "id", col("w"), n = 1).collect()
    }
    assert(msgs(ex).exists(_.contains("negative weight")))
    val nulls = Seq((1L, Some(1.0)), (2L, None)).toDF("id", "w")
    val ex2 = intercept[Exception] {
      Sampling.sampleByWeight(nulls, "id", col("w"), n = 1).collect()
    }
    assert(msgs(ex2).exists(_.contains("null weight")))
    val p = Sampling.sampleByWeight(
        spark.range(100).toDF("id"), "id", lit(1.0), n = 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$p")
  }

  test("deterministic shuffle: a permutation, stable under repartitioning") {
    val ids = (0L until 500L).toDF("id")
    val pos = Sampling.deterministicShuffle(ids, "id")
      .select("id", "shuffle_pos").as[(Long, Long)].collect().toMap
    // a bijection onto 0..n-1
    assert(pos.values.toSeq.sorted === (0L until 500L))
    // input partitioning must not change the permutation
    val rep = Sampling.deterministicShuffle(ids.repartition(13), "id")
      .select("id", "shuffle_pos").as[(Long, Long)].collect().toMap
    assert(rep === pos)
    // a different seed gives a different permutation
    val other = Sampling.deterministicShuffle(ids, "id", seed = 7L)
      .select("id", "shuffle_pos").as[(Long, Long)].collect().toMap
    assert(other !== pos)
  }

  test("zValue interleaves bits; zorderWrite clusters locality into files") {
    // hand-check: x=3 (011), y=5 (101) at 3 bits — x bits land at even
    // positions, y at odd: 1+2+4+32 = 39
    val z = Seq((3L, 5L)).toDF("x", "y")
      .select(Sampling.zValue(Seq(col("x"), col("y")), 3)).as[Long].head()
    assert(z === 39L)

    // 32x32 grid z-ordered into 8 files: every file's bounding box must be
    // a small patch in BOTH dims (a 1-d sort would leave one dim spanning
    // the full range in every file)
    val grid = (for { x <- 0 until 32; y <- 0 until 32 } yield (x, y))
      .toDF("x", "y")
    val dir = "/root/repo/target/test_zorder"
    Sampling.zorderWrite(grid.repartition(7), Seq("x", "y"), dir, nFiles = 8,
      bits = 5)
    val boxes = spark.read.parquet(dir)
      .groupBy(col("_metadata.file_path"))
      .agg((max("x") - min("x")).as("rx"), (max("y") - min("y")).as("ry"))
      .select("rx", "ry").as[(Int, Int)].collect()
    assert(boxes.length === 8)
    val avgArea = boxes.map { case (rx, ry) => (rx + 1).toDouble * (ry + 1) }
      .sum / boxes.length
    // perfect z-order at 1024/8 points per file ≈ 128–256 box area; the
    // whole grid is 1024 — assert files are real sub-boxes, not stripes
    assert(avgArea <= 400, s"avg bbox area $avgArea of 1024")
    boxes.foreach { case (rx, ry) =>
      assert(rx < 32 && ry < 32, s"file spans a full dimension: $rx x $ry")
    }
  }

  test("token-budget selection equals the windowed prefix, stable across partitioning") {
    // priorities descend with id; tokens are 10 each → budget 45 keeps the
    // top 4 (cum 10,20,30,40), row 5 overflows
    val rows = (0L until 20L).map(i => (i, 100L - i, "x " * 10))
      .toDF("id", "prio", "text")
    val out = Sampling.selectTokenBudget(rows, "id", col("prio"),
      TextAnalysis.tokenCount(col("text")).cast("long"), budget = 45L)
      .select("id", "cum_tokens").as[(Long, Long)].collect().sorted
    assert(out.toSeq === Seq((0L, 10L), (1L, 20L), (2L, 30L), (3L, 40L)))
    val rep = Sampling.selectTokenBudget(rows.repartition(7), "id", col("prio"),
      TextAnalysis.tokenCount(col("text")).cast("long"), budget = 45L)
      .select("id", "cum_tokens").as[(Long, Long)].collect().sorted
    assert(rep.toSeq === out.toSeq)
    // zero budget selects nothing; huge budget selects everything
    assert(Sampling.selectTokenBudget(rows, "id", col("prio"),
      lit(10L), 0L).count() === 0)
    assert(Sampling.selectTokenBudget(rows, "id", col("prio"),
      lit(10L), 1000000L).count() === 20)
    // null token counts select as 0 tokens (never NPE); negative counts fail
    val withNull = Seq((1L, 2L, Some(10L)), (2L, 1L, None))
      .toDF("id", "prio", "nt")
    val sel = Sampling.selectTokenBudget(withNull, "id", col("prio"),
      col("nt"), budget = 10L)
    assert(sel.count() === 2) // the null row costs nothing
    val neg = Seq((1L, 2L, 10L), (2L, 1L, -3L)).toDF("id", "prio", "nt")
    val e = intercept[org.apache.spark.SparkException](
      Sampling.selectTokenBudget(neg, "id", col("prio"), col("nt"), 10L)
        .count())
    assert(e.getMessage.contains("negative token count") ||
      Option(e.getCause).exists(_.getMessage.contains("negative token count")))
  }

  test("shuffle/budget census and emit see ONE execution of the sort") {
    // An accumulator-instrumented source counts row evaluations. Each
    // execution of the sorted plan reads the input TWICE (the range
    // exchange's boundary-sampling pass + the shuffle write), so one
    // execution = 2 passes. The localCheckpoint pin makes the census job
    // materialize the sorted rows and the emit job read them back — so
    // the total stays at 2 passes; without the pin, census and emit would
    // each execute the sort (4 passes) and, worse, could see two DIFFERENT
    // evaluations of a nondeterministic upstream. Same guarantee as
    // ZarrWrite's single-execution test.
    val acc = spark.sparkContext.longAccumulator("sampling_src_evals")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("nt",
        org.apache.spark.sql.types.LongType, nullable = false)))
    def freshDf = {
      val src = spark.sparkContext.parallelize(0L until 200L, 7)
        .map { i => acc.add(1); org.apache.spark.sql.Row(i, 10L) }
      spark.createDataFrame(src, schema)
    }
    // Upper bound, not an exact constant: ONE execution of the sorted
    // plan reads the source at most twice (range-boundary sampling +
    // shuffle write — Spark-version/AQE-dependent), so ≤ 2 passes proves
    // the pin made census + emit share one execution; an unpinned double
    // execution would read ≥ 3 passes.
    acc.reset()
    val shuffled = Sampling.deterministicShuffle(freshDf, "id")
    shuffled.collect()
    assert(acc.value >= 200L && acc.value <= 400L,
      s"deterministicShuffle: ${acc.value / 200.0} input passes, expected <= 2")
    acc.reset()
    val sel = Sampling.selectTokenBudget(freshDf, "id", col("id"),
      col("nt"), budget = 500L)
    sel.collect()
    assert(acc.value >= 200L && acc.value <= 400L,
      s"selectTokenBudget: ${acc.value / 200.0} input passes, expected <= 2")
  }

  test("census and emit share one partitioning of the sort (many partitions, no pin)") {
    // Without the pin the census and the emit are two jobs over the sort.
    // Each execution of an orderBy samples new range boundaries, so a
    // census taken from a second execution would count other partitions
    // than the emit numbers. Coalescing is off so the sort keeps all 8
    // range partitions (AQE would merge 2,000 small rows into one).
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val n = 2400
      val ids = (0L until n.toLong).toDF("id").repartition(8)
      val shuffled = Sampling.deterministicShuffle(ids, "id",
        assumeDeterministic = true)
      assert(shuffled.rdd.getNumPartitions >= 8)
      val pos = shuffled.select("id", "shuffle_pos").as[(Long, Long)]
        .collect().toMap
      assert(pos.values.toSeq.sorted === (0L until n.toLong))
      val md = java.security.MessageDigest.getInstance("MD5")
      def md5(s: String) = md.digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      val want = (0L until n.toLong).sortBy(i => (md5(s"42:$i"), i))
        .zipWithIndex.map { case (i, p) => i -> p.toLong }.toMap
      assert(pos === want)

      // SNM: with every candidate verified (maxDist covers any two
      // 5-char strings), the pairs are exactly the window-3 neighbours
      // of the driver-side sort by (name, id)
      val names = (0 until n).map(i => i.toLong -> f"${(i * 7919) % n}%05d")
      val pairs = Fuzzy.sortedNeighborhoodPairs(
          names.toDF("id", "name").repartition(8), "name", "id",
          window = 3, maxDist = 5, assumeDeterministic = true)
        .select("id_a", "id_b").as[(Long, Long)].collect()
      val order = names.sortBy(t => (t._2, t._1)).map(_._1)
      val wantPairs = (1 to 2).flatMap(d => order.zip(order.drop(d)))
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      assert(pairs.length === wantPairs.length)
      assert(pairs.toSet === wantPairs.toSet)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("sampling ops fail fast when the input already has a reserved column") {
    val clash = Seq((1L, 2L)).toDF("id", "shuffle_pos")
    val e = intercept[IllegalArgumentException](
      Sampling.deterministicShuffle(clash, "id"))
    assert(e.getMessage.contains("shuffle_pos"))
    val clash2 = Seq((1L, 2L)).toDF("id", "cum_tokens")
    val e2 = intercept[IllegalArgumentException](
      Sampling.selectTokenBudget(clash2, "id", col("id"), lit(1L), 10L))
    assert(e2.getMessage.contains("cum_tokens"))
    val clash3 = Seq((1L, 2L)).toDF("id", "shard")
    val e3 = intercept[IllegalArgumentException](
      Sampling.exportShards(clash3, "id", 2, "/root/repo/target/never"))
    assert(e3.getMessage.contains("shard"))
  }

  test("exportShardsJsonl writes shard dirs that read back complete") {
    val rows = (0L until 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val dir = "/root/repo/target/test_shards_jsonl"
    Sampling.exportShardsJsonl(rows, "doc_id", nShards = 4, outDir = dir)
    val back = spark.read.json(dir)
    assert(back.count() === 100)
    assert(back.select("shard").distinct().count() === 4)
    // shard membership matches shardId
    val bad = back.filter(
      Sampling.shardId(col("doc_id"), 4) =!= col("shard")).count()
    assert(bad === 0)
  }

  test("persisted text index: bm25 search equals inline bm25, buckets prune") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val dir = "/root/repo/target/test_text_index"
    TextAnalysis.buildTextIndex(docs, "text", "doc_id", dir, nBuckets = 16)
    val terms = Seq("spark", "merge", "window")
    val inline = TextAnalysis.bm25Rank(docs, "text", "doc_id", terms, topK = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val fromIdx = TextAnalysis.bm25SearchIndex(spark, dir, terms, topK = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(fromIdx.toSeq === inline.toSeq)

    // the bucket literal lands in PartitionFilters — unprobed bucket
    // directories are never touched
    val p = TextAnalysis.bm25SearchIndex(spark, dir, terms)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("bucket"), s"bucket isin must prune partitions:\n$p")
    // the term filter pushes into the pruned scan
    assert(p.contains("PushedFilters") && p.contains("term"), p)

    // the Jackson sidecar reader survives reordered keys, whitespace, and
    // an extra future field — the old regex scan could not be trusted with
    // any of these
    val kw = graft.api.MSWrite.readKeywords(spark, dir)
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(kw("__graft_text_index__"))
    val rewritten =
      s"""{ "note": "re-encoded", "buckets": ${root.get("buckets")},
         |  "sumdl": ${root.get("sumdl")}, "n": ${root.get("n")} }""".stripMargin
    graft.api.MSWrite.putKeywords(spark, dir,
      kw + ("__graft_text_index__" -> rewritten))
    val again = TextAnalysis.bm25SearchIndex(spark, dir, terms, topK = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(again.toSeq === inline.toSeq)
  }

  test("stratified sample applies per-stratum rates") {
    val rows = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    val out = Sampling.stratifiedSample(rows, "id", "lang",
      Seq("en" -> 0.1), defaultRate = 0.9)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.getOrElse("en", 0L) < 200, s"en rate 0.1: $out")
    assert(out.getOrElse("de", 0L) > 800, s"de rate 0.9: $out")
  }

  test("upsampleByWeight: floor copies + deterministic fractional extras") {
    val rows = (0L until 2000L)
      .map(i => (i, if (i % 2 == 0) "en" else "de")).toDF("id", "lang")
    val w = when(col("lang") === "en", 2.25).otherwise(0.5)
    val out = Sampling.upsampleByWeight(rows, "id", w)
    // en: 2 or 3 copies each — between 2000 and 3000 rows, ~2250 expected;
    // de: 0 or 1 copies, ~500 expected
    val counts = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("en") >= 2000 && counts("en") <= 3000)
    assert(math.abs(counts("en") - 2250L) < 150, s"~frac rate: $counts")
    assert(math.abs(counts("de") - 500L) < 120, s"~frac rate: $counts")
    // every id gets epochs 0..n-1 contiguously and the copy decision is
    // a pure function of the key: recomputation yields the same rows
    val again = Sampling.upsampleByWeight(rows, "id", w)
    assert(out.except(again).count() === 0)
    assert(again.except(out).count() === 0)
    val epochs = out.filter(col("lang") === "en").groupBy("id")
      .agg(count(lit(1)).as("n"), min("epoch").as("lo"), max("epoch").as("hi"))
    assert(epochs.filter(col("lo") =!= 0 || col("hi") =!= col("n") - 1)
      .count() === 0)
    // integer weights replicate exactly; weight 0 drops
    val exact = Sampling.upsampleByWeight(rows, "id",
      when(col("lang") === "en", 3.0).otherwise(0.0))
    assert(exact.count() === 3000)
    assert(exact.filter(col("lang") === "de").count() === 0)
    // a negative weight fails loudly (caller bug, not a silent drop)
    val e = intercept[Exception](
      Sampling.upsampleByWeight(rows, "id", lit(-0.5)).count())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("negative weight")), e.toString)
    // and so does a NULL weight — it must not vanish as a 0-copy row
    val nullW = when(col("lang") === "en", 2.0)
      .otherwise(lit(null).cast("double"))
    val en = intercept[Exception](
      Sampling.upsampleByWeight(rows, "id", nullW).count())
    assert(msgs(en).exists(m => m != null && m.contains("null weight")), en.toString)
    // a null KEY still yields a named diagnostic, not a null/empty
    // raise_error message (the key is coalesced to "<null>")
    val nk = Seq(Option.empty[Long]).toDF("id")
    val ek = intercept[Exception](
      Sampling.upsampleByWeight(nk, "id", lit(null).cast("double")).count())
    assert(msgs(ek).exists(m => m != null && m.contains("null weight") &&
      m.contains("<null>")), ek.toString)
  }

  test("temperature weights flatten the mixture; alpha = 1 is the identity") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "lang")
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = before.values.sum.toDouble

    // alpha = 1: q_g = p_g, so every weight rounds to exactly 1.0 and
    // upsampling returns the corpus unchanged (one epoch-0 copy per row)
    val id = Sampling.upsampleByWeight(docs, "doc_id",
      Sampling.temperatureWeights(docs, "lang", alpha = 1.0))
    assert(id.count() === n.toLong)
    assert(id.agg(max("epoch")).head().getLong(0) === 0L)

    // alpha = 0.5 flattens: smallest group's share rises, largest falls,
    // total stays ~N (the draw adds ±O(sqrt) noise)
    val out = Sampling.upsampleByWeight(docs, "doc_id",
      Sampling.temperatureWeights(docs, "lang", alpha = 0.5))
    val after = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val m = after.values.sum.toDouble
    assert(math.abs(m - n) / n < 0.1, s"total drifted: $n -> $m")
    val (smallest, largest) =
      (before.minBy(_._2)._1, before.maxBy(_._2)._1)
    assert(after(smallest) / m > before(smallest) / n,
      s"low-resource group must gain share: $before -> $after")
    assert(after(largest) / m < before(largest) / n,
      s"head group must lose share: $before -> $after")
    // and the weights scale the corpus: totalScale = 2 doubles the output
    val twice = Sampling.upsampleByWeight(docs, "doc_id",
      Sampling.temperatureWeights(docs, "lang", alpha = 0.5, totalScale = 2.0))
    assert(math.abs(twice.count() - 2 * m) / (2 * m) < 0.1)
  }

  test("excessLossWeights: hand-computed mixture, eta=0 identity, floor, refusals") {
    import spark.implicits._
    // two domains: web (4 docs, proxy mean 3, ref mean 1 -> excess 2),
    // code (6 docs, proxy mean 1, ref mean 2 -> at the floor, excess 0)
    val rows = Seq.fill(4)(("web", 3.0, 1.0)) ++ Seq.fill(6)(("code", 1.0, 2.0))
    val df = rows.toDF("domain", "lp", "lr")
    val got = Sampling.excessLossWeights(df, "domain", "lp", "lr", eta = 1.0)
      .orderBy("grp").collect()
    assert(got.map(_.getString(0)).toSeq === Seq("code", "web"))
    val Array(code, web) = got
    assert(code.getLong(1) === 6L && web.getLong(1) === 4L)
    assert(code.getDouble(2) === 0.6 && web.getDouble(2) === 0.4)
    assert(code.getDouble(3) === 0.0 && web.getDouble(3) === 2.0)
    // z = .6 + .4e², w_web = .4e²/z, w_code = .6/z
    val z = 0.6 + 0.4 * math.exp(2.0)
    assert(math.abs(web.getDouble(4) - 0.4 * math.exp(2.0) / z) < 1e-9)
    assert(math.abs(code.getDouble(4) - 0.6 / z) < 1e-9)
    assert(math.abs(got.map(_.getDouble(4)).sum - 1.0) < 1e-8)
    // eta = 0: every exp() is 1, so weights ARE the size shares —
    // the size-only rebalance as the null case
    val id = Sampling.excessLossWeights(df, "domain", "lp", "lr", eta = 0.0)
      .collect()
    assert(id.forall(r => r.getDouble(4) === r.getDouble(2)))
    // null group / null loss refuse (a dropped domain would silently
    // renormalize every other weight)
    intercept[IllegalArgumentException](Sampling.excessLossWeights(
      (rows :+ ((null: String, 1.0, 1.0))).toDF("domain", "lp", "lr"),
      "domain", "lp", "lr").count())
    intercept[IllegalArgumentException](Sampling.excessLossWeights(
      Seq(("web", Some(1.0), None: Option[Double])).toDF("domain", "lp", "lr"),
      "domain", "lp", "lr").count())
    intercept[IllegalArgumentException](
      Sampling.excessLossWeights(df, "domain", "lp", "lr", eta = -1.0))
  }

  test("capPerStratum equals row_number over stratum; strata span partitions") {
    import org.apache.spark.sql.expressions.Window
    // 3 strata of very different sizes, shuffled across 13 input
    // partitions so the big stratum spans several sorted partitions
    val rows = (0L until 3000L)
      .map(i => (i, if (i % 100 < 70) "big" else if (i % 100 < 99) "mid" else "sml"))
      .toDF("id", "stratum").repartition(13)
    val cap = 120L
    val got = Sampling.capPerStratum(rows, "id", "stratum", cap)
    val expected = rows.withColumn("stratum_rank",
        row_number().over(Window.partitionBy("stratum")
          .orderBy(Sampling.hashBucket(col("id")), col("id"))).cast("long"))
      .filter(col("stratum_rank") <= cap)
    assert(got.columns.toSeq === Seq("id", "stratum", "stratum_rank"))
    assert(got.except(expected).count() === 0)
    assert(expected.except(got).count() === 0)
    // capped strata emit exactly cap rows; an under-cap stratum all rows
    val counts = got.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("big" -> cap, "mid" -> cap, "sml" -> 30L))
  }

  test("capPerStratum: past-cap partitions skip, null strata and cap edge") {
    import org.apache.spark.sql.expressions.Window
    // cap=1 over one huge stratum: every sorted partition past the first
    // survivor is all-past-cap and must emit nothing (the census skip)
    val one = (0L until 5000L).map((_, "only")).toDF("id", "stratum")
      .repartition(17)
    val kept = Sampling.capPerStratum(one, "id", "stratum", 1L).collect()
    assert(kept.length === 1 && kept.head.getLong(2) === 1L)
    // the survivor is the minimum md5 draw (tie-broken by id)
    val want = one.orderBy(Sampling.hashBucket(col("id")), col("id"))
      .select("id").head().getLong(0)
    assert(kept.head.getLong(0) === want)
    // null stratum is a stratum of its own, same window semantics
    val withNull = Seq((1L, "a"), (2L, null), (3L, null), (4L, null),
      (5L, "a"), (6L, "a")).toDF("id", "stratum")
    val gotN = Sampling.capPerStratum(withNull, "id", "stratum", 2L)
    val expN = withNull.withColumn("stratum_rank",
        row_number().over(Window.partitionBy("stratum")
          .orderBy(Sampling.hashBucket(col("id")), col("id"))).cast("long"))
      .filter(col("stratum_rank") <= 2)
    assert(gotN.except(expN).count() === 0)
    assert(expN.except(gotN).count() === 0)
    // reserved output columns fail fast
    val clash = Seq((1L, "a", 9L)).toDF("id", "stratum", "stratum_rank")
    val e = intercept[IllegalArgumentException](
      Sampling.capPerStratum(clash, "id", "stratum", 1L))
    assert(e.getMessage.contains("stratum_rank"))
  }

  test("splitByGroup: group-atomic, ~fractional, stable under growth") {
    val rows = (0L until 4000L).map(i => (i, s"site${i % 400}"))
      .toDF("id", "grp")
    val split = Sampling.splitByGroup(rows, "grp",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    // leakage-safety: every group maps to exactly one split
    assert(split.groupBy("grp")
      .agg(countDistinct("split").as("k")).filter(col("k") =!= 1)
      .count() === 0)
    // fractions land near target (400 groups, binomial spread)
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum === 4000L)
    assert(counts("train") > 2800 && counts("train") < 3600, counts.toString)
    assert(counts.getOrElse("valid", 0L) > 100, counts.toString)
    assert(counts.getOrElse("test", 0L) > 100, counts.toString)
    // stability: new rows of KNOWN groups join the existing assignment
    val grown = rows.unionByName(
      Seq((9999L, "site7")).toDF("id", "grp"))
    val a = Sampling.splitByGroup(grown, "grp",
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      .filter(col("grp") === "site7").select("split").distinct().collect()
    val b = split.filter(col("grp") === "site7")
      .select("split").distinct().collect()
    assert(a.toSeq === b.toSeq && a.length === 1)
    // fractions must sum to 1; reserved column fails fast
    intercept[IllegalArgumentException](
      Sampling.splitByGroup(rows, "grp", Seq("a" -> 0.5, "b" -> 0.4)))
    intercept[IllegalArgumentException](
      Sampling.splitByGroup(rows.withColumn("split", lit("x")), "grp",
        Seq("a" -> 1.0)))
  }

  test("unimaxAllocation: hand-computed water-fill, caps, conservation") {
    // sizes 100/10/10, budget 180, cap 4: fair=60 -> both small groups
    // cap at 40 each (10x4); remaining 100 all goes to the big group
    val got = Sampling.unimaxAllocation(
      Seq(("big", 100L), ("s1", 10L), ("s2", 10L)), budget = 180.0,
      maxEpochs = 4.0).map { case (g, n, e) => g -> ((n, e)) }.toMap
    assert(got("s1") === ((10L, 4.0)) && got("s2") === ((10L, 4.0)))
    assert(got("big") === ((100L, 1.0))) // 100 rows / 100 size
    // no cap binds when the budget is small: pure uniform split
    val uni = Sampling.unimaxAllocation(
      Seq(("a", 100L), ("b", 50L)), budget = 60.0, maxEpochs = 4.0)
      .map { case (g, n, e) => g -> n * e }.toMap
    assert(math.abs(uni("a") - 30.0) < 1e-9 && math.abs(uni("b") - 30.0) < 1e-9)
    // unreachable budget clamps to everyone-at-cap
    val clamped = Sampling.unimaxAllocation(
      Seq(("a", 10L), ("b", 20L)), budget = 1e9, maxEpochs = 2.0)
    assert(clamped.forall { case (_, _, e) => math.abs(e - 2.0) < 1e-9 })
    // cascading caps: 80/15/5, budget 150, cap 4 -> fair=50: c caps at 20;
    // fair=65: b caps at 60; a takes the remaining 70
    val casc = Sampling.unimaxAllocation(
      Seq(("a", 80L), ("b", 15L), ("c", 5L)), budget = 150.0, maxEpochs = 4.0)
      .map { case (g, n, e) => g -> n * e }.toMap
    assert(math.abs(casc("c") - 20.0) < 1e-9)
    assert(math.abs(casc("b") - 60.0) < 1e-9)
    assert(math.abs(casc("a") - 70.0) < 1e-9)
    intercept[IllegalArgumentException](
      Sampling.unimaxAllocation(Nil, 10.0, 2.0))
    // the Column form composes with upsampleByWeight into a mixture whose
    // realized counts track the allocation
    val df = (0L until 300L).map(i => (i, if (i < 250) "big" else "sml"))
      .toDF("id", "grp")
    val w = Sampling.unimaxWeights(df, "grp", budgetScale = 1.5,
      maxEpochs = 3.0)
    val up = Sampling.upsampleByWeight(df.withColumn("w8", w), "id",
      col("w8"))
    val counts = up.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // budget 450: sml caps at 150 (50x3); big gets 300 of 250 rows = 1.2
    assert(counts("sml") === 150L)
    assert(math.abs(counts("big") - 300L) <= 5L) // md5 fractional draw
  }

  test("interleaveStrata: window equivalence, proportional slices, determinism") {
    import org.apache.spark.sql.expressions.Window
    // strata with very different sizes across many input partitions
    val rows = (0L until 2400L)
      .map(i => (i, if (i % 12 < 8) "web" else if (i % 12 < 11) "code" else "book"))
      .toDF("id", "stratum").repartition(11)
    val got = Sampling.interleaveStrata(rows, "id", "stratum")
    assert(got.columns.toSeq ===
      Seq("id", "stratum", "stratum_rank", "interleave_pos"))
    // equals the window formulation (the oracle's shape)
    val w = Window.partitionBy("stratum")
      .orderBy(Sampling.hashBucket(col("id")), col("id"))
    val ranked = rows
      .withColumn("stratum_rank", row_number().over(w).cast("long"))
      .withColumn("n_g", count(lit(1)).over(Window.partitionBy("stratum")))
    val expected = ranked.withColumn("interleave_pos",
        row_number().over(Window.orderBy(
          (col("stratum_rank").cast("double") - 0.5) / col("n_g").cast("double"),
          col("stratum"), col("id"))).cast("long") - 1)
      .drop("n_g")
    assert(got.except(expected).count() === 0)
    assert(expected.except(got).count() === 0)
    // proportionality: every contiguous quarter of the output holds each
    // stratum within ±2 rows of its corpus share (the whole point)
    val quarter = 2400 / 4
    val byQuarter = got
      .withColumn("q", (col("interleave_pos") / quarter).cast("int"))
      .groupBy("q", "stratum").count().collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    for (q <- 0 until 4) {
      assert(math.abs(byQuarter((q, "web")) - 400L) <= 2, s"web q$q")
      assert(math.abs(byQuarter((q, "code")) - 150L) <= 2, s"code q$q")
      assert(math.abs(byQuarter((q, "book")) - 50L) <= 2, s"book q$q")
    }
    // interleave_pos is a bijection onto [0, n)
    assert(got.select("interleave_pos").distinct().count() === 2400L)
    assert(got.agg(min("interleave_pos"), max("interleave_pos")).head() ===
      org.apache.spark.sql.Row(0L, 2399L))
    // partitioning-invariant (pure function of the data)
    val again = Sampling.interleaveStrata(rows.repartition(3), "id", "stratum")
    assert(got.except(again).count() === 0)
    // reserved output columns fail fast
    val clash = Seq((1L, "a", 0L)).toDF("id", "stratum", "interleave_pos")
    val e = intercept[IllegalArgumentException](
      Sampling.interleaveStrata(clash, "id", "stratum"))
    assert(e.getMessage.contains("interleave_pos"))
  }

  test("shard assignment is deterministic, complete, and balanced") {
    val ids = (0L until 1000L).toDF("doc_id")
    val n = 8
    val shards = ids.select(col("doc_id"), Sampling.shardId(col("doc_id"), n).as("shard"))
    val counts = shards.groupBy("shard").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keySet == (0L until n).toSet, s"all shards populated: $counts")
    assert(counts.values.sum === 1000L)
    assert(counts.values.max < 2 * 1000 / n, s"roughly uniform: $counts")
    // stable across recomputation (pure function of the key)
    val again = ids.select(col("doc_id"), Sampling.shardId(col("doc_id"), n).as("shard"))
    assert(shards.except(again).count() === 0)
  }

  test("exportShards: one file set per shard, rows land in their shard dir") {
    val docs = (0L until 200L).map(i => (i, i * 2)).toDF("doc_id", "v")
    val out = "/root/repo/target/qtmp/shards_test"
    Sampling.exportShards(docs, "doc_id", 4, out)
    val back = spark.read.parquet(out)
    assert(back.count() === 200)
    // partition value equals the recomputed shard id for every row
    val bad = back.withColumn("expect", Sampling.shardId(col("doc_id"), 4))
      .filter(col("shard") =!= col("expect")).count()
    assert(bad === 0)
    assert(back.select("shard").distinct().count() === 4)
  }

  test("greedy packing respects the token budget; oversize doc gets own pack") {
    val docs = Seq(
      ("s", 1L, 50), ("s", 2L, 60), ("s", 3L, 30), ("s", 4L, 128), ("s", 5L, 5),
      ("t", 1L, 200), ("t", 2L, 10)
    ).map { case (g, i, nt) => (g, i, ("w " * nt).trim) }.toDF("src", "id", "text")
    val out = Sampling.packSequences(docs, "src", "id",
      TextAnalysis.tokenCount(col("text")), maxTokens = 128)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getInt(3), r.getInt(4))).toMap
    assert(out(("s", 1L)) === (1, 50))
    assert(out(("s", 2L)) === (1, 110))
    assert(out(("s", 3L)) === (2, 30)) // 110+30 > 128
    assert(out(("s", 4L)) === (3, 128)) // exactly the budget
    assert(out(("s", 5L)) === (4, 5)) // 128+5 > 128
    assert(out(("t", 1L)) === (1, 200)) // oversize doc: own pack
    assert(out(("t", 2L)) === (2, 10))
  }

  test("packing is per-group: pack ids restart per source") {
    val docs = (0L until 40L).map(i => (s"src${i % 4}", i, "a b c d e"))
      .toDF("src", "id", "text")
    val out = Sampling.packSequences(docs, "src", "id",
      TextAnalysis.tokenCount(col("text")), maxTokens = 12)
    // 10 docs x 5 tokens per source, cap 12 -> 2 docs per pack, 5 packs each
    val packs = out.groupBy("src", "pack_id").count()
    assert(packs.count() === 20)
    assert(packs.agg(max("count")).head().getLong(0) === 2)
    assert(out.agg(max("pack_cum")).head().getInt(0) <= 12)
  }

  test("FFD packing: hand-computed bins, budget respected, oversize alone") {
    // sizes 7,6,4,3,2 at budget 10 -> FFD gives {7,3} {6,4} {2}: 3 packs
    // (greedy in id order 7,6,4,3,2 gives {7} {6,4} {3,2}: 3 too — the
    // hand case pins PLACEMENT, the waste case below pins the advantage)
    val docs = Seq(("s", 1L, 7), ("s", 2L, 6), ("s", 3L, 4), ("s", 4L, 3),
        ("s", 5L, 2), ("t", 1L, 99))
      .map { case (g, i, nt) => (g, i, ("w " * nt).trim) }.toDF("src", "id", "text")
    val out = Sampling.packSequencesFFD(docs, "src", "id",
      TextAnalysis.tokenCount(col("text")), maxTokens = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getInt(3), r.getInt(4))).toMap
    assert(out(("s", 1L)) === (1, 7))  // 7 opens pack 1
    assert(out(("s", 2L)) === (2, 6))  // 6 doesn't fit pack 1
    assert(out(("s", 3L)) === (2, 10)) // 4 first-fits pack 2 (7+4 > 10)
    assert(out(("s", 4L)) === (1, 10)) // 3 first-fits pack 1
    assert(out(("s", 5L)) === (3, 2))  // 2 fits nowhere
    assert(out(("t", 1L)) === (1, 99)) // oversize doc: own pack, own group
  }

  test("FFD packing beats greedy on skewed lengths; deterministic; capped census holds the budget") {
    // 70,70,50,50 repeating at budget 120: FFD pairs every 70 with a 50
    // (zero waste); greedy's arrival-order walk strands remainders
    val docs = (0L until 60L).map { i =>
      val nt = if (i % 4 < 2) 70 else 50
      ("s", i, ("w " * nt).trim)
    }.toDF("src", "id", "text")
    val tc = TextAnalysis.tokenCount(col("text"))
    val ffd = Sampling.packSequencesFFD(docs, "src", "id", tc, maxTokens = 120)
    val greedy = Sampling.packSequences(docs, "src", "id", tc, maxTokens = 120)
    val wf = Sampling.packWasteStats(ffd, "src", 120)
      .select("n_packs", "pad_waste").head()
    val wg = Sampling.packWasteStats(greedy, "src", 120)
      .select("n_packs", "pad_waste").head()
    assert(wf.getLong(1) < wg.getLong(1),
      s"FFD waste ${wf.getLong(1)} !< greedy ${wg.getLong(1)}")
    assert(wf.getLong(0) <= wg.getLong(0))
    // every pack holds the budget; every doc is assigned exactly once
    val tot = ffd.groupBy("pack_id").agg(sum("n_tokens").as("t"))
    assert(tot.filter(col("t") > 120).count() === 0)
    assert(ffd.count() === 60 && ffd.select("id").distinct().count() === 60)
    // deterministic under partitioning
    val again = Sampling.packSequencesFFD(docs.repartition(7), "src", "id",
      tc, maxTokens = 120)
    assert(again.collect().toSet === ffd.collect().toSet)
    // a 1-bin census degrades to next-fit-decreasing but never overfills
    val capped = Sampling.packSequencesFFD(docs, "src", "id", tc,
      maxTokens = 120, maxOpenBins = 1)
    val ctot = capped.groupBy("pack_id").agg(sum("n_tokens").as("t"))
    assert(ctot.filter(col("t") > 120).count() === 0)
    assert(capped.count() === 60)
    assert(Sampling.packWasteStats(capped, "src", 120).head().getLong(3) >=
      wf.getLong(1)) // the cap can only lose quality, never gain
  }

  test("FFD refuses ambiguous (group, order, token count) ties in both walks") {
    // both FFD passes sort by (token count desc, order) — a TOTAL order
    // unless two rows of one group tie on BOTH keys, which would leave
    // the tie order (and the placement/assembly parity guarantee) to
    // shuffle arrival; the in-kernel guard refuses exactly that class,
    // at zero extra passes (tied rows are adjacent in the sorted walk)
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val dup = Seq(("s", 1L, "a b", Seq(1, 2)), ("s", 1L, "c d", Seq(3, 4)),
        ("s", 2L, "e", Seq(5)))
      .toDF("src", "id", "text", "ids")
    val tc = TextAnalysis.tokenCount(col("text"))
    val e1 = intercept[Throwable](
      Sampling.packSequencesFFD(dup, "src", "id", tc, maxTokens = 10)
        .collect())
    assert(msgs(e1).contains("duplicate (group, order)"), msgs(e1))
    val e2 = intercept[Throwable](
      Sampling.assemblePackedIdsFFD(dup, "src", "id", "ids", tc,
        maxTokens = 10, sepId = 0).collect())
    assert(msgs(e2).contains("duplicate (group, order)"), msgs(e2))
    // same order key in DIFFERENT groups is fine (per-group walks), and
    // a duplicate order key with DIFFERENT token counts stays totally
    // ordered — allowed, and both walks place it identically
    val ok = Seq(("s", 1L, "a b", Seq(1, 2)), ("t", 1L, "c d", Seq(3, 4)),
        ("s", 1L, "x y z", Seq(7, 8, 9)))
      .toDF("src", "id", "text", "ids")
    assert(Sampling.packSequencesFFD(ok, "src", "id", tc, 10).count() === 3)
    val asg = Sampling.packSequencesFFD(ok, "src", "id", tc, 10)
      .select("src", "id", "n_tokens", "pack_id")
      .as[(String, Long, Int, Int)].collect().toSet
    val mem = Sampling.assemblePackedIdsFFD(ok, "src", "id", "ids", tc, 10, 0)
    assert(mem.agg(sum("n_docs")).head().getLong(0) === 3L)
    assert(asg.map(_._4).max === mem.select(max("pack_id")).head().getInt(0))
  }
}

class CorpusReportSpec extends SparkSpec {
  import spark.implicits._

  test("dataset-card numbers: dup rate, token/char totals, extremes") {
    val docs = Seq(
      ("s1", "en", "one two three"),
      ("s1", "en", "one two three"), // exact dup
      ("s1", "en", "four"),
      ("s1", "de", ""),              // empty: 0 tokens
      ("s2", "en", "five six")
    ).toDF("source", "lang", "text")
    val out = TextAnalysis.corpusReport(docs, "text", Seq("source", "lang"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getInt(6), r.getInt(7), r.getLong(8)))).toMap
    assert(out(("s1", "en")) === ((3L, 2L, 7L, 2.3333, 1, 3, 30L)))
    assert(out(("s1", "de")) === ((1L, 1L, 0L, 0.0, 0, 0, 0L)))
    assert(out(("s2", "en")) === ((1L, 1L, 2L, 2.0, 2, 2, 8L)))
  }
}

class PackAssembleSpec extends SparkSpec {
  import spark.implicits._

  test("assembles pack id arrays in order with one separator per doc") {
    val enc = Seq(
      ("a", 1L, Seq(11, 12, 13)), // pack 1 (3 tokens)
      ("a", 2L, Seq(21, 22)),     // pack 1 (cum 5)
      ("a", 3L, Seq(31, 32, 33)), // overflow -> pack 2
      ("b", 9L, Seq(91))          // own group
    ).toDF("src", "doc_id", "ids")
    val out = Sampling.assemblePackedIds(enc, "src", "doc_id", "ids",
        size(col("ids")), maxTokens = 5, sepId = 0)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getSeq[Int](2), r.getSeq[Long](3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(out(("a", 1)) ===
      ((Seq(11, 12, 13, 0, 21, 22, 0), Seq(1L, 2L), 2L, 7L)))
    assert(out(("a", 2)) === ((Seq(31, 32, 33, 0), Seq(3L), 1L, 4L)))
    assert(out(("b", 1)) === ((Seq(91, 0), Seq(9L), 1L, 2L)))
    // every pack respects budget + separators; ids survive verbatim
    assert(out.values.forall { case (ids, docs, nd, ni) =>
      ids.size == ni && docs.size == nd && ids.count(_ == 0) == nd })
  }

  test("null id arrays raise; duplicate and null keys pack without loss") {
    val nulled = Seq(("a", 1L, Seq(1, 2)), ("a", 2L, null))
      .toDF("src", "doc_id", "ids")
    val e = intercept[Exception] {
      Sampling.assemblePackedIds(nulled, "src", "doc_id", "ids",
        coalesce(size(col("ids")), lit(0)), maxTokens = 5, sepId = 0)
        .collect()
    }
    // pin the failure to the operator's own guard, wherever Spark wraps it
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
    assert(chain.exists(_.contains("assemblePackedIds")),
      s"expected the null-ids guard to fire, got: $e")
    // duplicate (src, doc_id) straddling a pack boundary: each row is
    // packed exactly once (the old join-back formulation duplicated both
    // rows into both packs)
    val dup = Seq(("a", 5L, Seq(11, 12, 13)), ("a", 5L, Seq(21, 22, 23)))
      .toDF("src", "doc_id", "ids")
    val packs = Sampling.assemblePackedIds(dup, "src", "doc_id", "ids",
        size(col("ids")), maxTokens = 4, sepId = 0)
      .orderBy("pack_id").collect()
    assert(packs.map(_.getLong(5)).sum === 8) // 6 ids + 2 separators, once
    // and the tie order is pinned (secondary sort on the payload), not
    // left to shuffle arrival
    assert(packs.map(_.getSeq[Int](2).toSeq).toSeq ===
      Seq(Seq(11, 12, 13, 0), Seq(21, 22, 23, 0)))
    // a null group key is a group like any other, not a dropped row
    val ng = Seq((null.asInstanceOf[String], 1L, Seq(7)), ("b", 2L, Seq(8)))
      .toDF("src", "doc_id", "ids")
    val ngOut = Sampling.assemblePackedIds(ng, "src", "doc_id", "ids",
        size(col("ids")), maxTokens = 5, sepId = 0)
      .collect()
    assert(ngOut.length === 2)
    assert(ngOut.map(_.getSeq[Int](2)).map(_.toSeq).toSet ===
      Set(Seq(7, 0), Seq(8, 0)))
  }

  test("FFD assembly: hand-computed placement order, shared rule with packSequencesFFD") {
    // sizes 7,6,4,3,2 at budget 10 (the packSequencesFFD hand case):
    // packs {7,3} {6,4} {2}; contents concatenate in PLACEMENT order
    // (desc length), so pack 1 is [7-doc ids, 3-doc ids]
    val enc = Seq(
      ("s", 1L, (1 to 7).toSeq), ("s", 2L, (11 to 16).toSeq),
      ("s", 3L, (21 to 24).toSeq), ("s", 4L, (31 to 33).toSeq),
      ("s", 5L, Seq(41, 42))
    ).toDF("src", "doc_id", "ids")
    val out = Sampling.assemblePackedIdsFFD(enc, "src", "doc_id", "ids",
        size(col("ids")), maxTokens = 10, sepId = 0)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getSeq[Int](2).toSeq, r.getSeq[Long](3).toSeq, r.getLong(4),
          r.getLong(5)))).toMap
    assert(out(("s", 1)) ===
      (((1 to 7).toSeq ++ Seq(0) ++ (31 to 33) ++ Seq(0), Seq(1L, 4L), 2L, 12L)))
    assert(out(("s", 2)) ===
      (((11 to 16).toSeq ++ Seq(0) ++ (21 to 24) ++ Seq(0), Seq(2L, 3L), 2L, 12L)))
    assert(out(("s", 3)) === ((Seq(41, 42, 0), Seq(5L), 1L, 3L)))
  }

  test("FFD assembly matches packSequencesFFD memberships; capped census emits every doc once") {
    val docs = (0L until 60L).map { i =>
      val nt = if (i % 4 < 2) 70 else 50
      ("s" + (i % 3), i, (1 to nt.toInt).map(_.toInt))
    }.toDF("src", "doc_id", "ids")
    val tc = size(col("ids"))
    for (cap <- Seq(1024, 2)) {
      val asm = Sampling.assemblePackedIdsFFD(docs, "src", "doc_id", "ids",
        tc, maxTokens = 120, sepId = -1, maxOpenBins = cap)
      val assign = Sampling.packSequencesFFD(docs, "src", "doc_id", tc,
        maxTokens = 120, maxOpenBins = cap)
      // membership parity: the exploded (group, pack, doc) roster of the
      // assembly equals the assignment's — the shared-rule guarantee
      val a = asm.select(col("src"), col("pack_id"),
        explode(col("doc_ids")).as("doc_id"))
      val b = assign.select(col("src"), col("pack_id").cast("int"), col("doc_id"))
      assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0,
        s"cap=$cap membership diverged")
      // accounting: every doc once; n_ids = tokens + docs; budget holds
      assert(asm.agg(sum("n_docs")).head().getLong(0) === 60)
      val bad = asm.filter(col("n_ids") =!=
        size(col("packed_ids")) || col("n_ids") > lit(120) + col("n_docs"))
      assert(bad.count() === 0)
    }
  }
}

class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  test("dedupSpansKeepFirst: first occurrence survives, later copies cut") {
    val docs = Seq(
      (1L, "a b c d e f"),        // canonical "a b c"
      (2L, "x a b c y z"),        // later copy of "a b c" -> cut
      (3L, "p q r s p q r s"),    // WITHIN-doc repeat: second half cut
      (4L, "all unique words here"),
      (5L, ""), (6L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Dedup.dedupSpansKeepFirst(docs, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) === (("a b c d e f", 0L, 1L)))     // keeper untouched
    // doc 2 loses tokens 1..3 ("a b c"), splits at the seam
    assert(out(2L) === (("x\ny z", 3L, 2L)))
    // doc 3: grams pqr@{0,4}, qrs@{1,5}; keepers @0,@1; cut [4..7]
    assert(out(3L) === (("p q r s", 4L, 1L)))
    assert(out(4L) === (("all unique words here", 0L, 1L)))
    assert(out(5L)._2 === 0L && out(6L)._2 === 0L)    // full roster
    assert(out.size === 6)
    // pad widens the cut symmetrically (clamped at doc edges)
    val padded = Dedup.dedupSpansKeepFirst(docs, "text", "doc_id",
        n = 3, pad = 1)
      .filter(col("doc_id") === 2L).head()
    assert(padded.getString(1) === "z") // tokens 0..4 cut, only "z" left
    // deterministic: the keeper choice is a pure function of the data
    val again = Dedup.dedupSpansKeepFirst(docs.repartition(5), "text",
      "doc_id", n = 3).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet.forall(k => again(k) === out(k)._1))
  }

  test("flags docs sharing a word 4-gram with the benchmark; keep drops them") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "zzz alpha beta gamma delta yyy"), // shares "alpha beta gamma delta"
      (2L, "totally unrelated words here now"),
      (3L, "alpha beta gamma delta epsilon tail") // shares both bench 4-grams
    ).toDF("doc_id", "text")
    val hits = Dedup.decontaminate(corpus, bench, "text", "doc_id", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet === Set(1L, 3L))
    assert(hits(1L) === 1 && hits(3L) === 2)
    val kept = Dedup.decontaminateKeep(corpus, bench, "text", "doc_id", n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L))
  }

  test("real corpus: the % 29 benchmark slice contaminates a strict subset") {
    val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val out = Dedup.decontaminate(
      docs.filter(col("doc_id") % 29 =!= 0),
      docs.filter(col("doc_id") % 29 === 0), "text", "doc_id", n = 4)
    val n = out.count()
    assert(n > 0 && n < docs.count(), s"contaminated $n")
  }

  test("scrub removes exactly the colliding window plus pad, keeps the rest") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "zzz yyy alpha beta gamma delta xxx www vvv"),
      (2L, "totally unrelated words here now"),
      (3L, ""), // empty text: 0 tokens, comes back unchanged
      (4L, "alpha beta gamma delta") // nothing survives the scrub
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminateScrub(corpus, bench, "text", "doc_id",
        n = 4, pad = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // doc 1: window = tokens 2..5, pad 1 extends to 1..6 → yyy..xxx removed;
    // the removal seam splits the survivors into two '\n'-joined pieces
    assert(out(1L) === (("zzz\nwww vvv", 9L, 6L, 2L)))
    // doc 2: clean — normalized text, nothing removed, one piece
    assert(out(2L) === (("totally unrelated words here now", 5L, 0L, 1L)))
    assert(out(3L) === (("", 0L, 0L, 0L)))
    assert(out(4L) === (("", 4L, 4L, 0L)))
    // pad 0 keeps the immediate neighbors
    val tight = Dedup.decontaminateScrub(corpus, bench, "text", "doc_id",
        n = 4, pad = 0)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tight(1L) === "zzz yyy\nxxx www vvv")
    // the pieces view explodes per piece; scrubbed-empty docs vanish
    val pieces = Dedup.decontaminateScrubPieces(corpus, bench, "text",
        "doc_id", n = 4, pad = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(pieces === Set(
      (1L, 0, "zzz"), (1L, 1, "www vvv"),
      (2L, 0, "totally unrelated words here now")))
  }

  test("scrub output contains no benchmark n-gram and preserves clean docs") {
    val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    val bench = docs.filter(col("doc_id") % 29 === 0)
    val scrubbed = Dedup.decontaminateScrub(corpus, bench, "text", "doc_id",
      n = 4, pad = 2)
    assert(scrubbed.count() === corpus.count()) // full roster, always
    // piece-wise re-check finds nothing: every in-piece n-gram was a
    // consecutive n-gram of the original document, so a hit would have
    // been removed (the structural guarantee the '\n' split provides)
    val pieces = scrubbed.filter(length(col("scrub_text")) > 0)
      .select(col("doc_id"), posexplode(split(col("scrub_text"), "\n")))
      .select(concat(col("doc_id"), lit("_"), col("pos")).as("pid"),
        col("col").as("text"))
    val residue = Dedup.decontaminate(pieces,
      bench.withColumnRenamed("doc_id", "pid"), "text", "pid", n = 4)
    assert(residue.count() === 0, "scrubbed text still contaminated")
    // untouched documents = exactly the decontaminate-clean set
    val flagged = Dedup.decontaminate(corpus, bench, "text", "doc_id", n = 4)
      .select("doc_id")
    val touched = scrubbed.filter(col("n_removed") > 0).select("doc_id")
    assert(touched.join(flagged, Seq("doc_id"), "left_anti").count() === 0)
    assert(flagged.join(touched, Seq("doc_id"), "left_anti").count() === 0)
  }

  test("semantic: flags embedding near-neighbors of the benchmark set") {
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)),    // exactly a bench vector: cos 1
      (2L, Seq(0.95, 0.1)),   // cos vs (1,0) = 0.9945 -> flagged
      (3L, Seq(1.0, 1.0)),    // cos vs (1,0) = 0.707, vs (0,1) = 0.707
      (4L, Seq(-1.0, 0.05))   // anti-aligned
    ).toDF("vec_id", "embedding")
    val bench = Seq((0L, Seq(1.0, 0.0)), (9L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val out = Dedup.decontaminateSemantic(corpus, bench,
        "vec_id", "embedding", "embedding", threshold = 0.95)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L)._1 === 1.0 && out(1L)._2 === 1L)
    assert(math.abs(out(2L)._1 - 0.9945055) < 1e-5 && out(2L)._2 === 1L)
    // a looser threshold catches doc 3 via BOTH bench vectors (n_hits 2)
    val loose = Dedup.decontaminateSemantic(corpus, bench,
        "vec_id", "embedding", "embedding", threshold = 0.7)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(loose(3L) === 2L)
    val kept = Dedup.decontaminateSemanticKeep(corpus, bench,
        "vec_id", "embedding", "embedding", threshold = 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L, 4L))
  }

  test("semantic: zero-norm embeddings never flag (NaN cosine is not a hit)") {
    // Spark orders NaN above every number, so an unguarded >= threshold
    // would let one zero vector on the BENCH side flag the whole corpus
    val corpus = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val bench = Seq((0L, Seq(0.0, 0.0)), (9L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val out = Dedup.decontaminateSemantic(corpus, bench,
        "vec_id", "embedding", "embedding", threshold = 0.5)
      .collect()
    assert(out.isEmpty, s"NaN cosines flagged: ${out.mkString(",")}")
    val kept = Dedup.decontaminateSemanticKeep(corpus, bench,
        "vec_id", "embedding", "embedding", threshold = 0.5)
      .count()
    assert(kept === 2L, "zero-norm bench vector must not wipe the corpus")
  }

  test("semantic decontamination plan broadcasts the bench side") {
    val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
    val bench = emb.filter(col("vec_id") % 23 === 0)
    val df = Dedup.decontaminateSemantic(emb, bench,
      "vec_id", "embedding", "embedding", threshold = 0.4)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"bench side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbroadcast cartesian:\n$p")
    // bench members flag themselves at cos 1; non-neighbors stay clean
    val n = df.count()
    assert(n > 0 && n < emb.count(), s"flagged $n")
  }
}

class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  test("cluster-blocked pairs are a precision-1 subset; keep prunes dups") {
    val emb = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.99f, 0.01f, 0f, 0f)), // ~dup of 1
      (3L, Array(0f, 1f, 0f, 0f)),
      (4L, Array(0f, 0.98f, 0.02f, 0f)), // ~dup of 3
      (5L, Array(0f, 0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDup(emb, "embedding", "vec_id", 0.9, Nil)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact === Set((1L, 2L), (3L, 4L)))
    val sem = Similarity.semDedupPairs(emb, "embedding", "vec_id", 0.9, nlist = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.subsetOf(exact), s"false pairs: ${sem -- exact}")
    assert(sem.nonEmpty)
    val kept = Similarity.semDedupKeep(emb, "embedding", "vec_id", 0.9, nlist = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.size === 5 - sem.size) // each found pair prunes its non-rep
    assert(Set(1L, 3L, 5L).subsetOf(kept) || kept.contains(5L))
  }

  test("kmeansCluster separates well-separated groups and is stable") {
    // three tight groups far apart: k-means with k=3 must put each group
    // in one cell, whatever the (seeded) cell numbering is
    val emb = (
      (0 until 5).map(i => (i.toLong, Array(10f + i * 0.01f, 0f, 0f))) ++
      (5 until 10).map(i => (i.toLong, Array(0f, 10f + i * 0.01f, 0f))) ++
      (10 until 15).map(i => (i.toLong, Array(0f, 0f, 10f + i * 0.01f)))
    ).toDF("vec_id", "embedding")
    val out = Similarity.kmeansCluster(emb, "embedding", "vec_id", k = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.size === 15)
    val groups = Seq(0L until 5L, 5L until 10L, 10L until 15L)
      .map(g => g.map(out).toSet)
    assert(groups.forall(_.size === 1), s"groups split across cells: $groups")
    assert(groups.flatten.toSet.size === 3, "groups must land in 3 distinct cells")
    // assignment is a pure function of the fitted centroids: re-run equal
    val cents = Similarity.fitKmeans(emb, "embedding", k = 3)
    val viaCents = Similarity.assignClusters(emb, "embedding", "vec_id", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaCents === out)
    // composes with per-stratum capping for cluster-balanced curation
    val capped = Sampling.capPerStratum(
      emb.join(Similarity.assignClusters(emb, "embedding", "vec_id", cents),
        "vec_id"),
      "vec_id", "cluster", cap = 2)
    assert(capped.count() === 6)
    assert(capped.groupBy("cluster").count()
      .agg(max("count")).head().getLong(0) <= 2)
  }
}

class VocabTfidfSpec extends SparkSpec {
  import spark.implicits._

  test("vocabulary: counts, deterministic tie-break, top-k cut") {
    val docs = Seq("a b b c", "B c  a", "").toDF("text")
    val top = TextAnalysis.vocabulary(docs, "text", 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // b=3 (case-folded), then the a/c tie breaks on token order
    assert(top === Seq(("b", 3L), ("a", 2L)))
  }

  test("tfidf: hand-computed scores, rank per doc, ties on token") {
    val docs = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidf(docs, "text", "doc_id", 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getDouble(5))).toSeq
    // N=2; df(x)=1, df(y)=2, df(z)=1; ln(2)≈0.6931472
    val l2 = math.log(2.0)
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === Seq(
      (1L, 1, "x", r9(2.0 / 3.0 * l2)), (1L, 2, "y", 0.0),
      (2L, 1, "z", r9(0.5 * l2)), (2L, 2, "y", 0.0)))
  }

  test("tfidf on the real corpus: every doc gets k ranked keywords") {
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val out = TextAnalysis.tfidf(docs, "text", "doc_id", 3)
    val perDoc = out.groupBy("doc_id").count()
    assert(perDoc.filter(col("count") > 3).count() === 0)
    assert(out.filter(col("tfidf") < 0).count() === 0) // ln(N/df) ≥ 0
  }
}

/** Round-7 additions: BM25 retrieval, token-window chunking, corpus-LM
  * surprisal, URL/domain filtering, bloom-filter decontamination.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("retrievalMetrics: hand-computed MRR/P@k/R@k/nDCG@k, guards") {
    // query 1: ranks 1..4 with graded rel (0, 2, 0, 1), k = 2
    // query 2: nothing relevant at all
    val ranked = Seq(
      (1L, 1, 0.0), (1L, 2, 2.0), (1L, 3, 0.0), (1L, 4, 1.0),
      (2L, 1, 0.0), (2L, 2, 0.0))
      .toDF("q", "rank", "rel")
    val out = TextAnalysis.retrievalMetrics(ranked, "q", "rank", "rel", k = 2)
      .orderBy("query").collect()
    def l2(x: Double) = math.log(x) / math.log(2)
    val dcg = (math.pow(2, 0) - 1) / l2(2) + (math.pow(2, 2) - 1) / l2(3)
    val idcg = (math.pow(2, 2) - 1) / l2(2) + (math.pow(2, 1) - 1) / l2(3)
    val q1 = out(0)
    assert(q1.getLong(1) === 2L)                       // n_rel
    assert(q1.getDouble(2) === 0.5)                    // mrr: first rel at rank 2
    assert(q1.getDouble(3) === 0.5)                    // p@2: 1 hit / 2
    assert(q1.getDouble(4) === 0.5)                    // r@2: 1 hit / 2 rel
    assert(math.abs(q1.getDouble(5) - math.rint(dcg / idcg * 1e6) / 1e6) < 1e-12)
    val q2 = out(1)
    assert((q2.getLong(1), q2.getDouble(2), q2.getDouble(3), q2.getDouble(4),
      q2.getDouble(5)) === ((0L, 0.0, 0.0, 0.0, 0.0)))
    // a perfect ranking scores nDCG 1
    val perfect = Seq((9L, 1, 3.0), (9L, 2, 2.0), (9L, 3, 1.0))
      .toDF("q", "rank", "rel")
    assert(TextAnalysis.retrievalMetrics(perfect, "q", "rank", "rel", 3)
      .head().getDouble(5) === 1.0)
    // duplicate ranks refuse loudly
    val dup = Seq((1L, 1, 1.0), (1L, 1, 0.0)).toDF("q", "rank", "rel")
    val e = intercept[Exception](
      TextAnalysis.retrievalMetrics(dup, "q", "rank", "rel", 2).collect())
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs(e).contains("duplicate ranks"), msgs(e))
    intercept[IllegalArgumentException](
      TextAnalysis.retrievalMetrics(ranked, "q", "rank", "rel", 0))
  }

  test("rrfFuse: hand-computed fusion, overlap beats single-list winners") {
    // list A: 10, 20, 30; list B: 20, 40 — doc 20 appears in both
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rank")
    val b = Seq((20L, 1), (40L, 2)).toDF("doc_id", "rank")
    val out = TextAnalysis.rrfFuse(Seq(a, b), "doc_id", kRrf = 60, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    def s(ranks: Int*) = math.rint(ranks.map(r => 1.0 / (60 + r)).sum * 1e9) / 1e9
    // doc 20 = 1/62 + 1/61 tops both single-list rank-1 scores
    assert(out.head === ((20L, s(2, 1), 2L)))
    assert(out.map(_._1).toSeq === Seq(20L, 10L, 40L, 30L))
    assert(out.map(_._2).toSeq === Seq(s(2, 1), s(1), s(2), s(3)))
    // equal single-list ranks tie on score and break by id
    val c = Seq((7L, 1)).toDF("doc_id", "rank")
    val d = Seq((3L, 1)).toDF("doc_id", "rank")
    val tied = TextAnalysis.rrfFuse(Seq(c, d), "doc_id").collect()
    assert(tied.map(_.getLong(0)).toSeq === Seq(3L, 7L))
    // topK truncates after the fused order
    assert(TextAnalysis.rrfFuse(Seq(a, b), "doc_id", topK = 2)
      .collect().map(_.getLong(0)).toSeq === Seq(20L, 10L))
    intercept[IllegalArgumentException](
      TextAnalysis.rrfFuse(Nil, "doc_id"))
  }

  test("boundedRank matches row_number over (score desc, id asc), no window") {
    import org.apache.spark.sql.expressions.Window
    val topk = Seq((5L, 0.9), (2L, 0.9), (9L, 1.4), (1L, 0.1))
      .toDF("doc_id", "score")
    val got = TextAnalysis.boundedRank(topk, "doc_id", "score")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = topk.select(col("doc_id"), row_number().over(
        Window.partitionBy(lit(0)).orderBy(col("score").desc, col("doc_id")))
        .as("rank"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === want)
    assert(got === Map(9L -> 1, 2L -> 2, 5L -> 3, 1L -> 4))
    // and the plan carries no Window node at all
    val plan = TextAnalysis.boundedRank(topk, "doc_id", "score")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("bm25: hand-computed score on a two-doc corpus") {
    val docs = Seq(
      (1L, "spark spark runs fast"), // tf(spark)=2, dl=4
      (2L, "ducks swim slowly today")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25Rank(docs, "text", "doc_id", Seq("spark"),
      k1 = 1.2, b = 0.75, topK = 10).collect()
    // N=2, df=1 -> idf = ln((2-1+0.5)/(1+0.5)+1) = ln 2; avgdl = 4
    // score = ln2 * 2 * 2.2 / (2 + (4/4*0.75+0.25)*1.2) = ln2*4.4/3.2
    val expected = math.rint(math.log(2) * 2 * 2.2 / 3.2 * 1e9) / 1e9
    assert(out.length === 1) // doc 2 hits no term -> absent
    assert(out(0).getLong(0) === 1L)
    assert(math.abs(out(0).getDouble(1) - expected) < 1e-9)
    assert(out(0).getLong(2) === 1L) // n_terms_hit
  }

  test("bm25: ranking prefers rarer terms and shorter docs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha rare"),
      (3L, "alpha beta beta beta beta beta beta beta")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.bm25Rank(docs, "text", "doc_id", Seq("rare"), topK = 3)
      .collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("chunkTokens: exact window grid incl. short tail; empty doc dropped") {
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (2L, "   ")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokens(docs, "text", "doc_id",
        window = 4, stride = 3)
      .orderBy("chunk_idx").collect()
    assert(out.map(_.getInt(1)).toSeq === Seq(0, 1, 2, 3))
    assert(out.map(_.getString(2)).toSeq === Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10", "t10"))
    assert(out.map(_.getInt(3)).toSeq === Seq(4, 4, 4, 1))
  }

  test("unigramSurprisal: hand-computed nll; common text scores lower") {
    val docs = Seq(
      (1L, "a a a"), // all 'a'
      (2L, "a b")    // has the rare token
    ).toDF("doc_id", "text")
    // corpus: a×4, b×1, total 5. p(a)=0.8, p(b)=0.2
    val out = TextAnalysis.unigramSurprisal(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    val nll1 = -math.log(0.8)
    val nll2 = -(math.log(0.8) + math.log(0.2)) / 2
    assert(out(0).getLong(1) === 3L)
    assert(math.abs(out(0).getDouble(2) - nll1) < 1e-8)
    assert(math.abs(out(1).getDouble(2) - nll2) < 1e-8)
    assert(out(1).getDouble(2) > out(0).getDouble(2))
  }

  test("blocklist: the classic he/she/his/hers overlap case, counts, CSV") {
    val docs = Seq(
      (1L, "ushers"),          // she, he, hers — the textbook AC case
      (2L, "aaa"),             // overlapping same-pattern matches
      (3L, "clean text"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Blocklist.blocklistMatches(docs, "text", "doc_id",
        Seq("he", "she", "his", "hers", "aa"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getString(3)))).toMap
    assert(got(1L) === ((3L, 3, "he,hers,she")))
    assert(got(2L) === ((2L, 1, "aa")))
    assert(got(3L) === ((0L, 0, "")))
    assert(got(4L) === ((0L, 0, "")))
    // nested pattern fully inside another still counts independently
    val nested = Blocklist.blocklistMatches(
      Seq((1L, "xabcdx")).toDF("doc_id", "text"), "text", "doc_id",
      Seq("abcd", "bc")).head()
    assert(nested.getLong(1) === 2L && nested.getInt(2) === 2)
    // guards: empty and duplicate patterns refuse
    intercept[IllegalArgumentException](Blocklist.blocklistMatches(
      docs, "text", "doc_id", Seq("a", "")))
    intercept[IllegalArgumentException](Blocklist.blocklistMatches(
      docs, "text", "doc_id", Seq("a", "a")))
  }

  test("blocklist: matches a brute-force position scan on random text") {
    val rnd = new scala.util.Random(7)
    val alpha = "abc"
    val texts = (0L until 40L).map(i =>
      (i, (0 until 60).map(_ => alpha(rnd.nextInt(3))).mkString))
    val pats = Seq("ab", "ba", "aa", "abc", "cab")
    def brute(t: String): (Long, Int) = {
      val counts = pats.map(p =>
        (0 to t.length - p.length).count(i => t.startsWith(p, i)))
      (counts.map(_.toLong).sum, counts.count(_ > 0))
    }
    val got = Blocklist.blocklistMatches(
        texts.toDF("doc_id", "text"), "text", "doc_id", pats)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2))))
      .toMap
    texts.foreach { case (i, t) =>
      assert(got(i) === brute(t), s"doc $i: $t") }
  }

  test("ngramNovelty: shared grams kill novelty; short and empty docs are 0") {
    val docs = Seq(
      (1L, "the quick brown fox"),       // 2 trigrams, both unique
      (2L, "the quick brown dog"),       // shares 'the quick brown' with 1
      (3L, "completely different text here"),
      (4L, "xy zz"),                     // < 3 tokens: no grams
      (5L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.ngramNovelty(docs, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // doc1: grams {the quick brown, quick brown fox} — the first is
    // shared with doc2 → novelty 1/2
    assert(got(1L) === ((2L, 0.5)) && got(2L) === ((2L, 0.5)))
    assert(got(3L) === ((2L, 1.0)))
    assert(got(4L) === ((0L, 0.0)) && got(5L) === ((0L, 0.0)))
    // duplicated text scores 0 everywhere it appears
    val dup = TextAnalysis.ngramNovelty(
      Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text"),
      "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(dup === Map(1L -> 0.0, 2L -> 0.0))
    intercept[IllegalArgumentException](
      TextAnalysis.ngramNovelty(docs, "text", "doc_id", n = 0))
  }

  test("minKProb: hand-computed top-k% surprisal cut; memorized text scores low") {
    val docs = Seq(
      (1L, "a a a a a a a a b c"), // 10 tokens: 2 rare outliers
      (2L, "a a a a a a a a a a") // 10 tokens: no outliers (memorized-ish)
    ).toDF("doc_id", "text")
    // corpus: a×18 b×1 c×1 total 20. k=20% of 10 → 2 scored tokens.
    // doc1's two worst are b and c (p=1/20 each); doc2's are two a's.
    val out = TextAnalysis.minKProb(docs, "text", "doc_id", kPct = 0.2)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 10L && out(0).getLong(2) === 2L)
    assert(math.abs(out(0).getDouble(3) - (-math.log(1 / 20.0))) < 1e-8)
    assert(math.abs(out(1).getDouble(3) - (-math.log(18 / 20.0))) < 1e-8)
    // the membership signal: the all-common doc scores far lower
    assert(out(1).getDouble(3) < out(0).getDouble(3))
    // kPct = 1 degenerates to the plain unigram surprisal mean
    val all = TextAnalysis.minKProb(docs, "text", "doc_id", kPct = 1.0)
      .orderBy("doc_id").collect()
    val uni = TextAnalysis.unigramSurprisal(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    all.zip(uni).foreach { case (m, u) =>
      assert(math.abs(m.getDouble(3) - u.getDouble(2)) < 1e-8) }
    // n_scored is never 0 (a 1-token doc still scores its token)
    val tiny = TextAnalysis.minKProb(
      Seq((9L, "solo")).toDF("doc_id", "text"), "text", "doc_id", 0.2).head()
    assert(tiny.getLong(2) === 1L)
    intercept[IllegalArgumentException](
      TextAnalysis.minKProb(docs, "text", "doc_id", kPct = 0.0))
  }

  test("bigramSurprisal: hand-computed interpolated nll with backoff") {
    val docs = Seq(
      (1L, "a b a"),
      (2L, "a b"),
      (3L, "z"),
      (4L, "  ")  // token-less: absent from the output
    ).toDF("doc_id", "text")
    // unigrams a×3 b×2 z×1 total 6; bigrams (a,b)×2 (b,a)×1
    val pa = 3.0 / 6; val pb = 2.0 / 6; val pz = 1.0 / 6
    val out = TextAnalysis.bigramSurprisal(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    // doc1: first a; a->b p=.75*(2/3)+.25*pb; b->a p=.75*(1/2)+.25*pa
    val n1 = -(math.log(pa) + math.log(0.75 * 2 / 3.0 + 0.25 * pb) +
      math.log(0.75 * 0.5 + 0.25 * pa)) / 3
    val n2 = -(math.log(pa) + math.log(0.75 * 2 / 3.0 + 0.25 * pb)) / 2
    val n3 = -math.log(pz)
    assert(out(0).getLong(1) == 3L && math.abs(out(0).getDouble(2) - n1) < 1e-8)
    assert(out(1).getLong(1) == 2L && math.abs(out(1).getDouble(2) - n2) < 1e-8)
    assert(out(2).getLong(1) == 1L && math.abs(out(2).getDouble(2) - n3) < 1e-8)
  }

  test("bigramSurprisal: maxBigrams cap forces unigram backoff") {
    val docs = Seq((1L, "a b a"), (2L, "a b")).toDF("doc_id", "text")
    // cap 1 keeps only (a,b) (count 2 beats (b,a)=1): the b->a step in
    // doc1 backs off to .25*p(a) and doc1's nll strictly rises; doc2
    // uses only the kept bigram, so its score is unchanged
    val full = TextAnalysis.bigramSurprisal(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    val capped = TextAnalysis.bigramSurprisal(docs, "text", "doc_id",
        maxBigrams = 1)
      .orderBy("doc_id").collect()
    assert(capped(0).getDouble(2) > full(0).getDouble(2))
    assert(capped(1).getDouble(2) == full(1).getDouble(2))
    val pa = 3.0 / 5; val pb = 2.0 / 5
    val exp = -(math.log(pa) + math.log(0.75 * 2 / 3.0 + 0.25 * pb) +
      math.log(0.25 * pa)) / 3
    assert(math.abs(capped(0).getDouble(2) - exp) < 1e-8)
  }

  test("perplexityBuckets scores with the bigram LM when asked") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val b = TextAnalysis.perplexityBuckets(docs, "text", "doc_id",
      bigram = true)
    val counts = b.groupBy("ppl_bucket").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet === Set("head", "middle", "tail"), counts.toString)
    val n = counts.values.sum.toDouble
    counts.values.foreach(c =>
      assert(c / n > 0.25 && c / n < 0.42, counts.toString))
  }

  test("perplexityBuckets: ordered terciles that partition the corpus") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val b = TextAnalysis.perplexityBuckets(docs, "text", "doc_id")
    val counts = b.groupBy("ppl_bucket").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet === Set("head", "middle", "tail"), counts.toString)
    val n = counts.values.sum.toDouble
    // terciles: each bucket holds roughly a third (ties/rounding move a few)
    counts.values.foreach(c =>
      assert(c / n > 0.25 && c / n < 0.42, counts.toString))
    // buckets are ordered by surprisal: head ≤ middle ≤ tail throughout
    def range(bk: String) = b.filter(col("ppl_bucket") === bk)
      .agg(min("nll"), max("nll")).head() match {
        case r => (r.getDouble(0), r.getDouble(1))
      }
    val (h, m, t) = (range("head"), range("middle"), range("tail"))
    assert(h._2 <= m._1 && m._2 <= t._1, s"$h $m $t")
    // bad cuts are rejected
    intercept[IllegalArgumentException](
      TextAnalysis.perplexityBuckets(docs, "text", "doc_id", cuts = (0.7, 0.3)))
  }

  test("urlHost/urlDomain handle userinfo, ports, paths, and non-URLs") {
    val cases = Seq(
      ("https://www.example.com/path?q=1", "www.example.com", "example.com"),
      ("http://user:pw@deep.sub.site.org:8080/x", "deep.sub.site.org", "site.org"),
      ("ftp://files.host.net", "files.host.net", "host.net"),
      ("not a url at all", "", ""),
      ("https://localhost/x", "localhost", "")) // single label: no domain
    val df = cases.map(_._1).toDF("url")
      .select(col("url"), TextAnalysis.urlHost(col("url")).as("h"),
        TextAnalysis.urlDomain(col("url")).as("d"))
    val got = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(got.toSeq === cases)
  }

  test("canonicalUrl collapses the spellings of one page, nothing else") {
    def canon(u: String): String =
      Seq(u).toDF("url").select(TextAnalysis.canonicalUrl(col("url")))
        .head().getString(0)
    // case/port/fragment/trailing-slash spellings all land on one form
    assert(canon("HTTPS://WWW.Example.COM:443/Page/") ===
      "https://www.example.com/Page")
    assert(canon("https://www.example.com/Page#top") ===
      "https://www.example.com/Page")
    assert(canon("http://Example.com:80/") === "http://example.com")
    // path case is case-significant and PRESERVED
    assert(canon("https://a.com/CaseSensitive") === "https://a.com/CaseSensitive")
    // tracking params go, real params stay, in order, incl. back-to-back
    assert(canon("https://a.com/p?utm_source=n&utm_medium=e&id=7&fbclid=x&page=2") ===
      "https://a.com/p?id=7&page=2")
    assert(canon("https://a.com/p?utm_a=1&utm_b=2") === "https://a.com/p")
    assert(canon("https://a.com/p?gclid=1&q=2") === "https://a.com/p?q=2")
    // "xref" is NOT "ref": param-name boundary respected
    assert(canon("https://a.com/p?xref=keep") === "https://a.com/p?xref=keep")
    // non-default port and userinfo survive
    assert(canon("http://u@a.com:8080/x") === "http://u@a.com:8080/x")
    // schemeless input passes through un-lowered
    assert(canon("Not A Url") === "Not A Url")
  }

  test("domainFilter drops blocklisted domains only") {
    val df = Seq(
      (1L, "https://ads.bad.net/banner"),
      (2L, "https://www.example.com/a"),
      (3L, "http://spam.example/z")
    ).toDF("id", "url")
    // the blocklist holds REGISTRABLE domains (last two labels): host
    // ads.bad.net matches entry "bad.net", not "ads.bad.net"
    val kept = TextAnalysis.domainFilter(df, "url",
      Seq("bad.net", "spam.example")).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L))
  }
}

class BloomDecontaminateSpec extends SparkSpec {
  import spark.implicits._

  test("bloom flags every exact hit (no false negatives); keep is complement") {
    val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    val bench = docs.filter(col("doc_id") % 29 === 0)
    val exact = Dedup.decontaminate(corpus, bench, "text", "doc_id", n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val flagged = Dedup.contaminatedBloom(corpus, bench, "text", "doc_id",
        n = 4, fpp = 1e-6)
      .filter(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(flagged),
      s"false negatives: ${exact.diff(flagged).take(5)}")
    // at fpp=1e-6 and ~150 grams/doc the expected FP count is ≪ 1
    assert(flagged.size - exact.size <= math.max(5, corpus.count() / 100))
    val kept = Dedup.decontaminateBloomKeep(corpus, bench, "text", "doc_id",
        n = 4, fpp = 1e-6).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === corpus.select("doc_id").collect().map(_.getLong(0)).toSet
      .diff(flagged))
  }

  test("BloomAnyLong: membership probe inside codegen, early-exit semantics") {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 1e-6)
    Seq(10L, 20L, 30L).foreach(bf.putLong)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val df = Seq(
      (1L, Seq(1L, 2L, 20L)),  // hit
      (2L, Seq(4L, 5L)),       // miss
      (3L, Seq.empty[Long])    // empty -> false
    ).toDF("id", "grams")
      .withColumn("hit",
        graft.expr.VectorExprs.bloom_any(col("grams"),
          bos.toByteArray))
    val got = df.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> false))
    // the probe plan is scan-side: no exchange, no join
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"))
  }
}

class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("count-min sketch never undercounts; estimates exact on tiny corpus") {
    val docs = Seq(
      (1L, "a a a b c"), (2L, "a b d"), (3L, "e e e e")
    ).toDF("doc_id", "text")
    // exact: a=4 b=2 c=1 d=1 e=4
    val got = TextAnalysis.approxTokenCounts(docs, "text",
      Seq("a", "b", "c", "d", "e", "zz"), eps = 1e-4).toMap
    assert(got("a") >= 4 && got("b") >= 2 && got("e") >= 4)
    // at eps=1e-4 on 12 tokens the sketch is effectively exact
    assert(got === Map("a" -> 4L, "b" -> 2L, "c" -> 1L, "d" -> 1L,
      "e" -> 4L, "zz" -> 0L))
  }

  test("sketch is deterministic under repartitioning (commutative merge)") {
    val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val a = TextAnalysis.tokenSketch(docs, "text", seed = 7)
    val b = TextAnalysis.tokenSketch(docs.repartition(17), "text", seed = 7)
    val probes = Seq("table", "row", "value", "spark", "absent-token")
    assert(probes.map(a.estimateCount) === probes.map(b.estimateCount))
    assert(a.totalCount() === b.totalCount())
  }
}
