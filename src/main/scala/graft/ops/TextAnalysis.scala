package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, document fingerprinting.
  *
  * All are pure `Column` algebra (no UDFs) so they run inside whole-stage
  * codegen — at 100 TB these are scan-side, shuffle-free map operations.
  */
object TextAnalysis {

  /** Whitespace tokens, lowercased. */
  def tokens(text: Column): Column =
    split(trim(lower(text)), "\\s+")

  /** [[tokens]] with empties dropped (null text → null) — THE shared
    * word expression of every learn/apply/train/score path (BPE,
    * classifier, q_bpe's oracle). Keep these call sites on this ONE
    * helper: the train/apply-consistency argument is "identical
    * tokenization by construction", which only holds while there is a
    * single definition to be consistent with.
    */
  def nonEmptyTokens(text: Column): Column =
    filter(tokens(text), t => length(t) > 0)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(size(tokens(text)))

  /** BPE-ish subword token estimate: alpha runs count ~ per 4 chars,
    * digits and punctuation are one token each (the usual "chars/4" BPE
    * rule of thumb made exact and engine-portable).
    */
  def bpeTokenEstimate(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]"))

  /** Small per-language stopword lists for n-gram/stopword language ID.
    * Deliberately tiny and deterministic — the heuristic, not a model.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "un", "une", "dans", "pour"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "un", "una", "en", "por"))

  /** Stopword-overlap score for one language: number of tokens that are in
    * the language's stopword list.
    */
  def langScore(text: Column, lang: String): Column =
    size(array_intersect(tokens(text),
      array(stopwords(lang).map(lit): _*)))
      .cast("int")

  /** Heuristic language ID: argmax of stopword overlap, alphabetical
    * tie-break, "und" (undetermined) when no stopword hits at all.
    */
  def langId(text: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    val scores = langs.map(l => langScore(text, l))
    val best = greatest(scores: _*)
    val pick = langs.zip(scores).foldRight(lit("und")) {
      case ((l, s), acc) => when(s === best && best > 0, lit(l)).otherwise(acc)
    }
    // foldRight means earlier (alphabetical) languages override later ones
    pick
  }

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0d))
      .otherwise(length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]{}-]", "")) /
        length(text).cast("double"))

  /** Digit character ratio. */
  def digitRatio(text: Column): Column =
    when(length(text) === 0, lit(0d))
      .otherwise(length(regexp_replace(text, "[^0-9]", "")) /
        length(text).cast("double"))

  /** English stopword ratio over whitespace tokens. */
  def stopwordRatio(text: Column): Column =
    when(tokenCount(text) === 0, lit(0d))
      .otherwise(langScore(text, "en") / tokenCount(text).cast("double"))

  /** Mean whitespace-token length. */
  def meanWordLen(text: Column): Column =
    when(tokenCount(text) === 0, lit(0d))
      .otherwise(length(regexp_replace(text, "\\s+", "")) /
        tokenCount(text).cast("double"))

  /** Composite quality score in [0,1]: rewards mid-length documents with
    * word-like tokens and some stopwords; punishes digit/punct walls.
    * Deterministic and engine-portable (same formula runs in any SQL).
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 50d, lit(1d))
    val wordScore = when(meanWordLen(text).between(3d, 10d), 1d).otherwise(0.5)
    val stopScore = least(stopwordRatio(text) * 4d, lit(1d))
    val penalty = punctRatio(text) + digitRatio(text)
    greatest(lit(0d), least(lit(1d),
      lenScore * 0.3 + wordScore * 0.3 + stopScore * 0.4 - penalty))
  }

  /** Polynomial rolling-hash document fingerprint over the raw characters:
    * `h = fold(h * 31 + codepoint) mod 1e9+7`. Computed by the codegen
    * `RollingHash` Catalyst expression — one primitive-typed pass per row
    * inside whole-stage codegen (the HOF spelling was CodegenFallback,
    * interpreted per character). Portable: any engine with a list-reduce
    * reproduces it bit-for-bit (int64 arithmetic only; (1e9+6)*31+cp never
    * overflows a long).
    */
  def fingerprintExpr(textCol: String): Column =
    graft.expr.VectorExprs.rolling_hash(col(textCol))

  // ------------------------------------------------- repetition (Gopher)

  /** Per-document n-gram repetition profile:
    * struct(total, n_distinct, top_count) over word n-grams, computed by
    * the codegen [[graft.expr.VectorExprs.NgramProfile]] expression (one
    * primitive pass per row — no per-element lambdas, no shuffle; these
    * are scan-side columns at 100 TB).
    */
  def ngramProfile(text: Column, n: Int): Column =
    graft.expr.VectorExprs.ngram_profile(tokens(text), n)

  /** Fraction of word n-gram occurrences taken by the single most frequent
    * n-gram (Gopher's "top n-gram fraction", token-based).
    */
  def topNgramFrac(text: Column, n: Int): Column = {
    val p = ngramProfile(text, n)
    when(p("total") === 0, lit(0d))
      .otherwise(p("top_count").cast("double") / p("total").cast("double"))
  }

  /** Fraction of word n-gram occurrences that are repeats of an earlier
    * occurrence (Gopher's "duplicate n-gram fraction", token-based).
    */
  def dupNgramFrac(text: Column, n: Int): Column = {
    val p = ngramProfile(text, n)
    when(p("total") === 0, lit(0d))
      .otherwise((p("total") - p("n_distinct")).cast("double") /
        p("total").cast("double"))
  }

  /** Gopher-style repetition metrics frame: most-frequent-word fraction,
    * duplicate/most-frequent bigram fractions, duplicate trigram fraction.
    */
  def repetitionMetrics(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("top_word_frac", topNgramFrac(t, 1))
      .withColumn("dup_bigram_frac", dupNgramFrac(t, 2))
      .withColumn("top_bigram_frac", topNgramFrac(t, 2))
      .withColumn("dup_trigram_frac", dupNgramFrac(t, 3))
  }

  /** Trimmed non-empty segments of `text` split on `sepRegex` — the
    * shared line/paragraph splitter of the duplicate-segment signals.
    */
  def segmentsCol(text: Column, sepRegex: String): Column =
    filter(transform(split(text, sepRegex), s => trim(s)), s => length(s) > 0)

  /** Within-document duplicate-segment fractions (Gopher, Rae et al. 2021
    * Table A1): the fraction of segments that are repeats of an earlier
    * identical segment, by count and by character mass. Returns
    * (dup_frac, dup_char_frac) columns for a segment-array column —
    * `(n - n_distinct) / n` and `(chars - distinct_chars) / chars`.
    * Pure Column algebra over the split array (array_distinct +
    * aggregate) — scan-side, shuffle-free at 100 TB like the n-gram
    * repetition profile above.
    */
  def dupSegmentFracs(segs: Column): (Column, Column) = {
    val n = size(segs)
    val nd = size(array_distinct(segs))
    val chars = aggregate(segs, lit(0L), (a, x) => a + length(x))
    val charsD = aggregate(array_distinct(segs), lit(0L), (a, x) => a + length(x))
    val dupFrac = when(n === 0, lit(0d))
      .otherwise((n - nd).cast("double") / n.cast("double"))
    val dupCharFrac = when(chars === 0L, lit(0d))
      .otherwise((chars - charsD).cast("double") / chars.cast("double"))
    (dupFrac, dupCharFrac)
  }

  /** The four Gopher duplicate line/paragraph signals as appended columns:
    * `dup_line_frac`, `dup_line_char_frac`, `dup_para_frac`,
    * `dup_para_char_frac`. Lines split on single newlines, paragraphs on
    * blank-line runs (`\n{2,}`), both trimmed with empties dropped.
    * Complements [[repetitionMetrics]] (the n-gram half of Gopher's
    * repetition table) — together they are the full repetition block.
    *
    * The split arrays and their distincts are materialized as
    * intermediate columns on purpose: inlining [[dupSegmentFracs]]'s four
    * references over the raw nested-HOF splitter duplicates the whole
    * subtree 4× per metric, and Catalyst's analysis/codegen time on the
    * exploded tree dwarfs the actual scan (measured: a CONSTANT ~35 s per
    * query before this shape, ~1 s after). Non-cheap aliases referenced
    * more than once also stop CollapseProject from re-inlining them.
    */
  def dupSegmentMetrics(docs: DataFrame, textCol: String = "text"): DataFrame = {
    def charsOf(segs: Column): Column =
      aggregate(segs, lit(0L), (a, x) => a + length(x))
    def frac(n: Column, nd: Column): Column =
      when(n === 0, lit(0d))
        .otherwise((n - nd).cast("double") / n.cast("double"))
    docs
      .withColumn("__lines", segmentsCol(col(textCol), "\n"))
      .withColumn("__paras", segmentsCol(col(textCol), "\n{2,}"))
      .withColumn("__ldist", array_distinct(col("__lines")))
      .withColumn("__pdist", array_distinct(col("__paras")))
      .withColumn("dup_line_frac", frac(size(col("__lines")), size(col("__ldist"))))
      .withColumn("dup_line_char_frac",
        frac(charsOf(col("__lines")), charsOf(col("__ldist"))))
      .withColumn("dup_para_frac", frac(size(col("__paras")), size(col("__pdist"))))
      .withColumn("dup_para_char_frac",
        frac(charsOf(col("__paras")), charsOf(col("__pdist"))))
      .drop("__lines", "__paras", "__ldist", "__pdist")
  }

  /** Unicode script ranges for [[scriptFracs]], as RE2-portable `\x{..}`
    * character-class bodies (Java regex accepts the same syntax, so one
    * literal serves Spark, DuckDB, and any RE2 engine). Deliberately the
    * big blocks, not the full Unicode script property — the routing
    * signal multilingual pipelines key mixtures on, not a linguist's
    * classifier.
    */
  val scriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-z\\x{C0}-\\x{24F}",
    "cyrillic" -> "\\x{400}-\\x{4FF}",
    "cjk" -> ("\\x{3040}-\\x{30FF}\\x{3400}-\\x{4DBF}" +
      "\\x{4E00}-\\x{9FFF}\\x{AC00}-\\x{D7AF}"),
    "arabic" -> "\\x{600}-\\x{6FF}",
    "digit" -> "0-9")

  /** Per-script character fractions over the non-whitespace text — the
    * script-routing signal of multilingual curation (mC4/CCNet split
    * their corpus by script before per-language models ever run; a
    * Latin-labelled doc that is 40% CJK is a mislabel or a boilerplate
    * mix). One `(name, Column)` per [[scriptRanges]] entry: count =
    * `length` after deleting everything outside the range — pure
    * scan-side regexp algebra, no UDF, engine-replayable.
    */
  def scriptFracs(text: Column): Seq[(String, Column)] = {
    val total = length(regexp_replace(text, "\\s+", ""))
    scriptRanges.map { case (name, r) =>
      name -> when(total === 0, lit(0d)).otherwise(
        length(regexp_replace(text, s"[^$r]", "")).cast("double") /
          total.cast("double"))
    }
  }

  /** DEFLATE compression ratio of the UTF-8 text: `deflate(text).length /
    * text.utf8Length`, at a pinned zlib level so the number is a stable
    * property of the bytes. The classic cheap redundancy signal of web-
    * corpus curation (a compression-based cousin of Gopher's repetition
    * fractions, Rae et al. 2021 §A1.3): boilerplate, template spam, and
    * keyword stuffing compress far below clean prose (≈0.6–0.8), so
    * pipelines drop the extreme-low tail (machine-generated repetition)
    * and the ≳1 tail (high-entropy non-text: base64, minified blobs).
    *
    * Null text → null; empty text → 1.0 (defined, not a division by
    * zero). Tiny inputs carry the ~8-byte DEFLATE framing overhead, so
    * ratios slightly above 1 are normal for short or incompressible docs.
    *
    * Scale shape: a scan-side projection (deterministic closure UDF —
    * the JDK's Deflater is not expressible as Column algebra); O(bytes)
    * per row, zero shuffle, the payload never moves. The JVM's zlib is
    * deterministic for a pinned (level, strategy) on every executor of a
    * cluster, which is the reproducibility a curation filter needs.
    */
  def compressionRatio(text: Column, level: Int = 6): Column = {
    require(level >= 0 && level <= 9, s"deflate level in [0,9]: $level")
    val lvl = level
    val f = udf { (s: String) =>
      if (s == null) null.asInstanceOf[java.lang.Double]
      else {
        val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (bytes.isEmpty) java.lang.Double.valueOf(1.0)
        else {
          val d = new java.util.zip.Deflater(lvl, false)
          try {
            d.setInput(bytes)
            d.finish()
            val buf = new Array[Byte](8192)
            var n = 0L
            while (!d.finished()) n += d.deflate(buf, 0, buf.length)
            java.lang.Double.valueOf(n.toDouble / bytes.length)
          } finally d.end()
        }
      }
    }
    f(text)
  }

  // ------------------------------------------------------- normalization

  /** Unicode NFC composition ([[graft.expr.VectorExprs.NfcNormalize]]:
    * codegen expression with an ASCII/already-NFC zero-allocation fast
    * path). The built-in function library has no unicode normalization.
    */
  def nfc(text: Column): Column = graft.expr.VectorExprs.nfc_normalize(text)

  /** Text normalization in the CCNet/C4 preprocessing style (Wenzek 2020
    * §3): NFC composition, control characters to spaces, whitespace runs
    * collapsed, ends trimmed. Scan-side Column algebra, 0 shuffles; the
    * regexes use the RE2-portable subset (no char-class intersection, no
    * lookaround) so any engine reproduces the result bit-for-bit.
    *
    * Newlines are whitespace here — line-structured filtering
    * ([[cleanLines]]) must run BEFORE this collapses line breaks.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(nfc(text), "\\p{Cc}", " "), "\\s+", " "))

  /** HTML → text extraction, the stage web-corpus recipes (C4, CCNet,
    * RefinedWeb) run FIRST — their inputs are crawled pages, not clean
    * prose. A deterministic tag-level extractor: script/style/comment
    * blocks are dropped wholesale, block-level closers become newlines
    * (so line-level cleaning still sees the page's paragraph structure),
    * remaining tags become spaces, the common named entities are decoded
    * (`&amp;` LAST, so double-escaped text does not re-decode), and
    * whitespace is normalized (space runs collapse, blank-line runs cap
    * at one empty line, edges trim). Not a browser: no JS, no CSS
    * visibility, no DOM — the honest trade every regex-level extractor
    * makes; the win is that it is pure RE2-portable Column algebra, so
    * the exact same chain runs on any engine and the oracle can replay
    * it bit-for-bit.
    *
    * Scale shape: a fixed chain of codegen'd regexp_replace/replace
    * projections riding the corpus scan — no UDF, no shuffle, O(bytes)
    * per row.
    */
  def stripHtml(html: Column): Column = {
    val noBlock = regexp_replace(html,
      "(?is)<(script|style)\\b[^>]*>.*?</(script|style)\\s*>", " ")
    val noComment = regexp_replace(noBlock, "(?s)<!--.*?-->", " ")
    val breaks = regexp_replace(noComment,
      "(?i)<(br|/p|/div|/li|/tr|/h[1-6]|/blockquote|/title)\\b[^>]*>", "\n")
    val noTags = regexp_replace(breaks, "<[^>]*>", " ")
    val entities = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'",
      "&amp;" -> "&" // last: double-escaped stays single-decoded
    ).foldLeft(noTags) { case (t, (e, r)) => replace(t, lit(e), lit(r)) }
    val spaces = regexp_replace(entities, "[ \\t]+", " ")
    val edges = regexp_replace(spaces, " ?\\n ?", "\n")
    // trim() only strips spaces — the edge runs here include newlines
    regexp_replace(regexp_replace(edges, "\\n{3,}", "\n\n"),
      "^\\s+|\\s+$", "")
  }

  // ------------------------------------------- line-level cleaning (C4)

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2): rather than
    * dropping whole documents, each LINE survives only if it (a) has at
    * least `minWords` words, (b) ends with terminal punctuation
    * (`. ! ? " '`) when `requireTerminalPunct`, and (c) contains none of
    * the `banned` substrings, case-insensitively (C4 bans "lorem ipsum",
    * "javascript", "{"). Returns `idCol`, `clean_text` (kept lines
    * rejoined with \n), `n_lines`, `n_kept` (longs); compose with a
    * `n_kept >= k` filter for C4's ≥3-sentence document rule.
    *
    * Scale shape: pure scan-side Column algebra over the per-row line
    * array — no explode, no shuffle, no UDF; at 100 TB this rides the
    * same corpus scan as the other quality signals. The per-line lambdas
    * are interpreted HOFs, but the element count is lines-per-document
    * (tens), not characters — the acceptable CodegenFallback case.
    */
  def cleanLines(docs: DataFrame, textCol: String, idCol: String,
                 minWords: Int = 3, requireTerminalPunct: Boolean = true,
                 banned: Seq[String] = Seq("lorem ipsum", "javascript", "{"))
  : DataFrame = {
    require(minWords >= 0, s"cleanLines: minWords must be >= 0: $minWords")
    val lines = split(col(textCol), "\n")
    val keep: Column => Column = l => {
      val words = size(filter(split(trim(l), "\\s+"), w => length(w) > 0))
      val punct =
        if (requireTerminalPunct) l.rlike("[.!?\"']\\s*$") else lit(true)
      banned.map(b =>
        !lower(l).contains(lit(b.toLowerCase(java.util.Locale.ROOT))))
        .foldLeft(words >= minWords && punct)(_ && _)
    }
    val kept = filter(lines, keep)
    docs.select(col(idCol), array_join(kept, "\n").as("clean_text"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"))
  }

  /** Composite quality-filter verdict in the Gopher style: first failing
    * rule names the drop reason, `keep` when none fail. Thresholds are
    * calibrated to this corpus's measured distributions (top_word_frac
    * 0.05–0.30 median 0.09; dup_bigram 0–0.13 median 0.03) so the filter
    * discriminates rather than passing or dropping everything.
    */
  def filterReason(text: Column): Column =
    when(tokenCount(text) < 15, "too_short")
      .when(topNgramFrac(text, 1) > 0.15, "top_word_frac")
      .when(dupNgramFrac(text, 2) > 0.08, "dup_bigram_frac")
      .when(dupNgramFrac(text, 3) > 0.03, "dup_trigram_frac")
      .when(qualityScore(text) < 0.3, "low_quality")
      .otherwise("keep")

  /** Corpus statistics report — the dataset-card numbers a release
    * pipeline publishes per group (typically source × language): document
    * count, distinct-text count (1 − n_unique/n_docs = the exact-dup
    * rate), token and character totals, and token-length extremes.
    *
    * Scale shape: one hash-aggregate over the corpus; the only non-
    * trivially-combinable aggregate is the distinct count, which shuffles
    * 16-byte md5 digests (never the text). Everything else partial-
    * aggregates map-side, and the output is one row per group.
    */
  def corpusReport(docs: DataFrame, textCol: String,
                   groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "corpusReport: at least one group column")
    val nt = tokenCount(col(textCol))
    docs.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col(textCol))).as("n_unique"),
        sum(nt).cast("long").as("n_tokens"),
        round(avg(nt), 4).as("avg_tokens"),
        min(nt).as("min_tokens"),
        max(nt).as("max_tokens"),
        sum(length(col(textCol))).cast("long").as("n_chars"))
  }

  // --------------------------------------------------------- PII redaction

  /** PII patterns, applied in this order (email first — it contains dots
    * and digits that the later patterns could nibble; IP before phone so a
    * dotted quad is not half-eaten as a dotted phone). The regex subset is
    * portable between Java (Spark) and RE2 (DuckDB/Go): no backrefs, no
    * lookarounds.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"))

  /** Redact all PII patterns to their placeholder tokens. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (t, (_, re, token)) =>
      regexp_replace(t, re, token)
    }

  /** Per-pattern match counts (`n_email`, `n_ip`, …), counted on the same
    * progressively-redacted text the replacement sees, so overlapping
    * patterns are attributed exactly like [[redactPii]] redacts them.
    */
  def piiCounts(text: Column): Seq[(String, Column)] = {
    val (counts, _) = piiPatterns.foldLeft((Seq.empty[(String, Column)], text)) {
      case ((acc, t), (name, re, token)) =>
        (acc :+ (s"n_$name" -> regexp_count(t, lit(re))),
          regexp_replace(t, re, token))
    }
    counts
  }

  // ------------------------------------------------------ vocabulary / tfidf

  /** Corpus vocabulary: the `topK` most frequent whitespace tokens with
    * their counts (ties broken by token, so the result is deterministic).
    *
    * Scale shape: explode → hash-aggregate with map-side partial combine
    * (the shuffle carries (token, partial count), not token occurrences),
    * then a TakeOrdered top-k — no global sort. This is the first step of
    * tokenizer training (BPE seeding) over a 100 TB corpus.
    */
  def vocabulary(docs: DataFrame, textCol: String, topK: Int): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(topK)

  /** TF-IDF keywords: the `topPerDoc` highest-scoring tokens per document,
    * score = (tf / doc_len) · ln(N / df). Deterministic: ties broken by
    * token; every factor is an exact integer ratio so the ranking is
    * reproducible across engines.
    *
    * Scale shape: one explode + two hash-aggregates — (doc, token) term
    * counts, then token document frequencies — and the corpus size N joins
    * in as a broadcast 1-row aggregate (never a driver collect). The final
    * per-doc top-k is a window over the (doc, token) frame, partitioned by
    * document — the shuffle is keyed by doc id, bounded by corpus size,
    * with no all-to-all token exchange.
    */
  def tfidf(docs: DataFrame, textCol: String, idCol: String,
            topPerDoc: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val docLen = terms.groupBy(col(idCol)).agg(sum(col("tf")).as("doc_len"))
    val dfreq = terms.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col(idCol)).as("__n"))
    val scored = terms
      .join(docLen, idCol)
      .join(dfreq, "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") / col("doc_len").cast("double") *
          log(col("__n").cast("double") / col("df").cast("double")))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("token"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topPerDoc)
      .select(col(idCol), col("rank"), col("token"), col("tf"), col("df"),
        round(col("tfidf"), 9).as("tfidf"))
  }

  // ------------------------------------------------------------- retrieval

  /** BM25 (Okapi, Lucene's idf form: ln(1 + (N−df+0.5)/(df+0.5))) scores
    * of every document against a bag of query terms; the `topK` docs by
    * score (rounded to 9 digits BEFORE ranking so the order is stable
    * across engines), doc-id tiebreak. Docs hitting no query term are not
    * returned.
    *
    * Scale shape: the exploded token stream is filtered to the query-term
    * set (a literal in the plan) BEFORE any shuffle, so the (doc, term)
    * aggregate carries only query hits — at 100 TB that is |hits|, not
    * |tokens|. Document length comes from a scan-side [[tokenCount]] (no
    * second explode); N and avgdl ride in as a broadcast 1-row aggregate;
    * per-term df is a broadcast |queryTerms|-row aggregate; the final
    * top-k is TakeOrdered, never a global sort. avgdl is computed as an
    * exact integer-sum ratio so every engine reproduces the same double.
    */
  def bm25Rank(docs: DataFrame, textCol: String, idCol: String,
               queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
               topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Rank needs at least one query term")
    val base = docs.select(col(idCol), col(textCol))
      .withColumn("__dl", tokenCount(col(textCol)).cast("long"))
    val stats = base.agg(
      count(lit(1)).cast("double").as("__n"),
      (sum(col("__dl")).cast("double") / count(lit(1))).as("__avgdl"))
    val terms = base
      .select(col(idCol), col("__dl"), explode(tokens(col(textCol))).as("__t"))
      .filter(col("__t").isin(queryTerms.distinct: _*))
      .groupBy(col(idCol), col("__t"))
      .agg(count(lit(1)).as("tf"), first(col("__dl")).as("__dl"))
    val dfreq = terms.groupBy("__t").agg(count(lit(1)).as("df"))
    terms.join(broadcast(dfreq), "__t").crossJoin(broadcast(stats))
      .withColumn("__idf",
        log((col("__n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("__s",
        col("__idf") * col("tf") * (k1 + 1.0) /
          (col("tf") + (col("__dl") / col("__avgdl") * b + (1.0 - b)) * k1))
      .groupBy(col(idCol))
      .agg(round(sum(col("__s")), 9).as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): fuse any number of
    * top-K rankings of the same id space — the standard way to combine a
    * sparse (BM25) and a dense (embedding ANN) retriever without score
    * calibration, since it reads only RANKS: `score(d) = Σ_lists
    * 1/(kRrf + rank_d)`, missing-from-a-list contributing nothing.
    * Each input needs (`idCol`, `rank`) with rank 1-based; output =
    * (`idCol`, `rrf_score` rounded to 9, `n_lists`), top `topK` by
    * (score desc, id).
    *
    * Scale shape: the inputs are top-K lists — BOUNDED frames (the
    * retrievers upstream carry the corpus-scale cost); fusion is a union
    * of a few hundred rows and one tiny aggregate. At 100 TB nothing
    * here grows with the corpus.
    */
  /** 1-based dense rank of each row of a BOUNDED frame by
    * (`scoreCol` desc, `idCol` asc) — the rank a retriever's top-k list
    * feeds into [[rrfFuse]]. Computed as a broadcast self-join count
    * (rank = 1 + number of strictly-better rows) instead of a global
    * window: O(k²) comparisons on a top-k frame, no single-partition
    * exchange, and no risk of the pattern being copied onto an UNbounded
    * frame where a global window would serialize the corpus.
    */
  def boundedRank(topk: DataFrame, idCol: String, scoreCol: String): DataFrame = {
    val better = broadcast(topk.select(col(idCol).as("__bid"),
      col(scoreCol).as("__bscore")))
    topk.select(col(idCol), col(scoreCol))
      .join(better,
        col("__bscore") > col(scoreCol) ||
          (col("__bscore") === col(scoreCol) && col("__bid") < col(idCol)),
        "left")
      .groupBy(col(idCol))
      .agg((count(col("__bid")) + 1).cast("int").as("rank"))
  }

  def rrfFuse(rankings: Seq[DataFrame], idCol: String,
              kRrf: Int = 60, topK: Int = 20): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(kRrf > 0 && topK > 0, s"kRrf/topK positive: $kRrf/$topK")
    val tagged = rankings.map(_.select(col(idCol),
      col("rank").cast("long").as("rank")))
    tagged.reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(round(sum(lit(1.0) / (lit(kRrf.toDouble) + col("rank"))), 9)
          .as("rrf_score"),
        count(lit(1)).cast("long").as("n_lists"))
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(topK)
  }

  /** Ranked-retrieval quality metrics — the EVALUATION leg of the
    * retrieval family (BM25/RRF/ANN produce rankings; this scores them
    * against labels): per query, MRR (reciprocal rank of the first
    * relevant hit), precision@k, recall@k (base = the query's relevant
    * items IN the ranked list — pass the full candidate pool for
    * corpus-level recall), and nDCG@k with graded gains
    * (2^rel − 1)/log2(pos + 1) (Järvelin & Kekäläinen 2002). Input: one
    * row per (query, item) with a 1-based `rankCol` and a nonnegative
    * `relCol` (0 = irrelevant; binary or graded). Duplicate ranks
    * within a query REFUSE loudly (a torn ranking would silently
    * corrupt every metric). Returns (query, n_rel, mrr, p_at_k, r_at_k,
    * ndcg_at_k); exact ratios round at 9, the DCG sums at 6.
    *
    * Scale shape: ONE query-keyed hash aggregate collects each query's
    * ranked list (a top-k list by construction — never a corpus), and
    * every metric folds over that array scan-side with builtin HOFs —
    * no window, no self-join, no UDF.
    */
  def retrievalMetrics(ranked: DataFrame, qCol: String, rankCol: String,
                       relCol: String, k: Int): DataFrame = {
    require(k >= 1, s"retrievalMetrics: k=$k")
    val grouped = ranked.groupBy(col(qCol).as("query"))
      .agg(array_sort(collect_list(struct(
        col(rankCol).cast("int").as("r"),
        col(relCol).cast("double").as("g")))).as("__is"))
      .select(col("query"),
        when(size(array_distinct(transform(col("__is"), x => x("r"))))
            =!= size(col("__is")),
          raise_error(concat(
            lit("retrievalMetrics: duplicate ranks for query "),
            col("query").cast("string"))))
          .otherwise(col("__is")).as("items"))
    val items = col("items")
    val relOnly = filter(items, x => x("g") > lit(0.0))
    val topK = filter(items, x => x("r") <= lit(k))
    val hitsK = size(filter(items,
      x => x("r") <= lit(k) && x("g") > lit(0.0)))
    val nRel = size(relOnly)
    val mrr = when(nRel > 0,
      lit(1.0) / element_at(relOnly, 1).getField("r")).otherwise(lit(0.0))
    val dcg = aggregate(topK, lit(0.0), (s, x) =>
      s + (pow(lit(2.0), x("g")) - 1) / log2(x("r").cast("double") + 1))
    val ideal = slice(reverse(array_sort(transform(items, x => x("g")))),
      1, k)
    val idcg = aggregate(
      zip_with(ideal, sequence(lit(1), size(ideal)), (g, i) =>
        (pow(lit(2.0), g) - 1) / log2(i.cast("double") + 1)),
      lit(0.0), (s, v) => s + v)
    grouped.select(col("query"),
      nRel.cast("long").as("n_rel"),
      round(mrr, 9).as("mrr"),
      round(hitsK.cast("double") / k, 9).as("p_at_k"),
      round(when(nRel > 0, hitsK.cast("double") / nRel)
        .otherwise(lit(0.0)), 9).as("r_at_k"),
      round(when(idcg > 0, dcg / idcg).otherwise(lit(0.0)), 6)
        .as("ndcg_at_k"))
  }

  // ------------------------------------------- persisted inverted index

  private val TextIndexKey = "__graft_text_index__"

  /** Build and PERSIST an inverted index for BM25 retrieval: one postings
    * row per (term, doc) with tf and doc length, partitioned by a stable
    * hash bucket of the term, with corpus stats (N, Σdl, bucket count) in
    * the keyword sidecar. The batch-retrieval shape at 100 TB — tokenize
    * and aggregate ONCE, then every query batch reads only its terms'
    * bucket directories (static partition pruning, like
    * [[graft.ops.Similarity.buildIvfIndex]]) instead of re-tokenizing the
    * corpus per call the way [[bm25Rank]] does. A term's postings live
    * entirely in its bucket, so per-term df is computable from the pruned
    * read alone.
    */
  def buildTextIndex(docs: DataFrame, textCol: String, idCol: String,
                     path: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val spark = docs.sparkSession
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .withColumn("dl", tokenCount(col("__text")).cast("long"))
    val stats = base.agg(count(lit(1)).as("n"), sum("dl").as("sumdl")).head()
    base.select(col("doc_id"), col("dl"),
        explode(tokens(col("__text"))).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"), first("dl").as("dl"))
      .withColumn("bucket",
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    graft.api.MSWrite.putKeywords(spark, path,
      graft.api.MSWrite.readKeywords(spark, path) + (TextIndexKey ->
        s"""{"n":${stats.getLong(0)},"sumdl":${stats.getLong(1)},"buckets":$nBuckets}"""))
  }

  /** Query a persisted [[buildTextIndex]] store: the query terms' bucket
    * set (≤ |terms| values) is applied as a literal filter BEFORE the join,
    * so parquet partition pruning skips every unprobed bucket directory,
    * and the term `isin` pushes into the pruned scan. Scores are identical
    * to [[bm25Rank]] on the same corpus (same idf/tf form, same rounding,
    * same exact-integer avgdl ratio — asserted in RetrievalSpec).
    */
  def bm25SearchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      queryTerms: Seq[String], k1: Double = 1.2,
                      b: Double = 0.75, topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "bm25SearchIndex needs at least one query term")
    val metaJson = graft.api.MSWrite.readKeywords(spark, path)
      .getOrElse(TextIndexKey,
        throw new IllegalArgumentException(s"no text-index sidecar at $path"))
    // real JSON parsing (Jackson ships with Spark) — resilient to key
    // order, whitespace, and future sidecar fields
    val metaRoot = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(metaJson)
    def metaLong(k: String): Long = {
      val n = metaRoot.get(k)
      require(n != null,
        s"text-index sidecar missing '$k': $metaJson")
      n.asLong()
    }
    val n = metaLong("n").toDouble
    val avgdl = metaLong("sumdl").toDouble / metaLong("n")
    val nBuckets = metaLong("buckets")
    val terms = queryTerms.distinct
    import spark.implicits._
    // bucket ids via the SAME hash the build used (Spark's xxhash64) —
    // computed on a |terms|-row frame, so build/search can never drift
    val buckets = terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(nBuckets)).cast("int").as("b"))
      .distinct().as[Int].collect().toSeq
    val post = spark.read.parquet(path)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
    val dfreq = post.groupBy("term").agg(count(lit(1)).as("df"))
    post.join(broadcast(dfreq), "term")
      .withColumn("__idf",
        log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("__s",
        col("__idf") * col("tf") * (k1 + 1.0) /
          (col("tf") + (col("dl") / lit(avgdl) * b + (1.0 - b)) * k1))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("__s")), 9).as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  // -------------------------------------------------------------- chunking

  /** Split documents into overlapping token windows — the
    * fixed-context-length training-sample prep step. Each output row is
    * one window: (id, chunk_idx, chunk_text, n_tokens), windows start
    * every `stride` tokens, the last window is the (possibly short) tail.
    * Empty/whitespace-only docs produce no rows.
    *
    * Scale shape: pure scan-side generate — tokenize once, explode the
    * stride grid, slice per window; no shuffle, no state, embarrassingly
    * parallel over input splits. Output rows ≈ tokens/stride per doc.
    */
  def chunkTokens(docs: DataFrame, textCol: String, idCol: String,
                  window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, s"window=$window stride=$stride")
    docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), size(col("__toks")) - 1, lit(stride)))
          .as("__start"))
      .select(col(idCol),
        (col("__start") / stride).cast("int").as("chunk_idx"),
        array_join(slice(col("__toks"), col("__start") + 1, lit(window)), " ")
          .as("chunk_text"),
        least(lit(window), size(col("__toks")) - col("__start"))
          .cast("int").as("n_tokens"))
  }

  // ------------------------------------------------- corpus LM surprisal

  /** Per-document unigram cross-entropy against the corpus language model
    * (the CCNet-style quality signal, with the corpus itself as the LM):
    * nll = −(Σ_tokens ln p(token)) / n_tokens, p(t) = count(t)/total over
    * the whole corpus. Low = templated/common text, high = rare-token
    * text. Every token of the scored corpus is in the model, so no
    * smoothing is needed; rounded to 9 digits.
    *
    * Scale shape: one explode feeding two hash-aggregates — (doc, token)
    * term counts, then global token counts — and the total joins in as a
    * broadcast 1-row aggregate. The model join is keyed by token
    * (vocab-sized, Zipf-skewed; AQE's skew split handles the head), the
    * final reduce is keyed by doc. Same two-shuffle shape as [[tfidf]].
    */
  def unigramSurprisal(docs: DataFrame, textCol: String, idCol: String)
  : DataFrame = {
    val terms = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .filter(length(col("__t")) > 0)
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("tf"))
    val model = terms.groupBy("__t").agg(sum(col("tf")).as("cnt"))
    val total = model.agg(sum(col("cnt")).as("__total"))
    terms.join(model, "__t").crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        round(-sum(col("tf").cast("double") *
            log(col("cnt").cast("double") / col("__total").cast("double"))) /
          sum(col("tf")).cast("double"), 9).as("nll"))
  }

  /** Interpolated bigram-LM surprisal — the closer-to-CCNet form of
    * [[unigramSurprisal]] (Wenzek et al. 2020 score with a 5-gram KenLM;
    * a backoff bigram model is the same family one order up from the
    * unigram proxy): per-document mean negative log-likelihood under
    * `p(w_i | w_{i-1}) = λ·p_bigram + (1−λ)·p_unigram`, with the corpus
    * itself as the model. The first token of a document scores with the
    * unigram model alone (no left context); a bigram outside the kept
    * model backs off to the unigram term (never zero — every token of
    * the scored corpus is in the unigram model by construction).
    *
    * `λ` defaults to 0.75 — binary-exact along with its 0.25 complement,
    * so an external engine reproducing the formula gets bit-identical
    * interpolation weights.
    *
    * Scale shape: token and bigram occurrences are scan-side (the bigram
    * pairs come from one `arrays_zip` of two slices — no self-join); the
    * unigram model is the same vocab-keyed hash-agg + skew-tolerant join
    * as [[unigramSurprisal]]; the bigram model is CAPPED at `maxBigrams`
    * (top by count, deterministic count-then-pair tie-break) so it joins
    * BROADCAST — the 100 TB analog of shipping a fixed-size KenLM to
    * every node. Per-doc reduction is keyed by document; driver state is
    * zero.
    */
  def bigramSurprisal(docs: DataFrame, textCol: String, idCol: String,
                      lambda: Double = 0.75, maxBigrams: Int = 1 << 16)
  : DataFrame = {
    require(lambda > 0 && lambda < 1,
      s"bigramSurprisal: lambda must be in (0,1): $lambda")
    require(maxBigrams > 0, s"bigramSurprisal: maxBigrams positive: $maxBigrams")
    val t = docs.select(col(idCol), nonEmptyTokens(col(textCol)).as("__ts"))
      .filter(size(col("__ts")) > 0)
    val uniOcc = t.select(col(idCol), explode(col("__ts")).as("__w"))
    val uniModel = uniOcc.groupBy("__w").agg(count(lit(1)).as("cu"))
    val total = uniModel.agg(sum(col("cu")).as("__total"))
    val n = size(col("__ts"))
    val bgOcc = t.select(col(idCol), explode(arrays_zip(
        slice(col("__ts"), lit(1), n - 1).as("__w1"),
        slice(col("__ts"), lit(2), n - 1).as("__w2"))).as("__p"))
      .select(col(idCol), col("__p.__w1"), col("__p.__w2"))
    val bgTf = bgOcc.groupBy(col(idCol), col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("tf"))
    val bgModel = bgOcc.groupBy("__w1", "__w2")
      .agg(count(lit(1)).as("cb"))
      .orderBy(col("cb").desc, col("__w1"), col("__w2"))
      .limit(maxBigrams)
    val u1 = uniModel.select(col("__w").as("__w1"), col("cu").as("cu1"))
    val u2 = uniModel.select(col("__w").as("__w2"), col("cu").as("cu2"))
    val p = lit(lambda) * coalesce(col("cb"), lit(0L)).cast("double") /
        col("cu1").cast("double") +
      lit(1 - lambda) * col("cu2").cast("double") / col("__total").cast("double")
    val bgSum = bgTf
      .join(broadcast(bgModel), Seq("__w1", "__w2"), "left")
      .join(u1, "__w1").join(u2, "__w2")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(sum(-col("tf").cast("double") * log(p)).as("__bsum"))
    val firstNll = t.select(col(idCol), element_at(col("__ts"), 1).as("__w"))
      .join(uniModel, "__w").crossJoin(broadcast(total))
      .select(col(idCol),
        (-log(col("cu").cast("double") / col("__total").cast("double")))
          .as("__fnll"))
    t.select(col(idCol), n.cast("long").as("n_tokens"))
      .join(firstNll, Seq(idCol))
      .join(bgSum, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        round((col("__fnll") + coalesce(col("__bsum"), lit(0.0))) /
          col("n_tokens").cast("double"), 9).as("nll"))
  }

  /** ROUGE-L (Lin 2004): longest-common-subsequence precision/recall/F1
    * between a reference and a candidate text over whitespace tokens —
    * the standard summarization/agreement metric, used in pipeline QA
    * to score generated candidates against references (or truncations/
    * rewrites against originals). Returns a struct(p, r, f) column,
    * each in [0, 1], 0 for token-less sides; p = LCS/|cand|,
    * r = LCS/|ref|, f = 2pr/(p+r).
    *
    * Scale shape: a per-row O(|ref|·|cand|) DP kernel (two texts of one
    * row — the renderChat per-task bound); no join, no shuffle, rides
    * whatever pairing the caller builds.
    */
  def rougeL(ref: Column, cand: Column): Column = {
    val kernel = udf { (r: Seq[String], c: Seq[String]) =>
      val (m, n) = (if (r == null) 0 else r.length,
        if (c == null) 0 else c.length)
      if (m == 0 || n == 0) (0.0, 0.0, 0.0)
      else {
        val prev = new Array[Int](n + 1)
        val cur = new Array[Int](n + 1)
        var i = 1
        while (i <= m) {
          var j = 1
          while (j <= n) {
            cur(j) =
              if (r(i - 1) == c(j - 1)) prev(j - 1) + 1
              else math.max(prev(j), cur(j - 1))
            j += 1
          }
          System.arraycopy(cur, 0, prev, 0, n + 1)
          i += 1
        }
        val lcs = prev(n).toDouble
        val p = lcs / n
        val rr = lcs / m
        val f = if (p + rr == 0) 0.0 else 2 * p * rr / (p + rr)
        (p, rr, f)
      }
    }
    kernel(nonEmptyTokens(ref), nonEmptyTokens(cand))
  }

  /** distinct-n diversity (Li et al. 2016): per group, the fraction of
    * n-gram OCCURRENCES that are distinct — the standard mode-collapse
    * diagnostic for synthetic/generated corpora (repetitive generations
    * crater distinct-2 long before humans notice). Returns (group,
    * n_grams, n_distinct, distinct_frac); gram-less groups score 0.
    *
    * Scale shape: one explode into a (group, gram) hash-aggregate with
    * map-side combine, one group reduce — no window, no join.
    */
  def distinctN(docs: DataFrame, textCol: String, groupCol: String,
                n: Int = 2): DataFrame = {
    require(n >= 1, s"distinctN: n must be >= 1: $n")
    // wordShingles deduplicates per document — diversity needs EVERY
    // occurrence, so this rides the shared raw-occurrence form
    val grams = docs.select(col(groupCol).as("grp"),
        explode(graft.ops.Dedup.wordShingleOccurrences(col(textCol), n))
          .as("__g"))
      .filter(length(col("__g")) > 0)
    val per = grams.groupBy(col("grp"), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .groupBy("grp")
      .agg(sum("__c").as("n_grams"), count(lit(1)).as("n_distinct"))
    docs.select(col(groupCol).as("grp")).distinct()
      .join(per, Seq("grp"), "left")
      .select(col("grp"), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        round(when(col("n_grams") > 0,
          col("n_distinct").cast("double") / col("n_grams"))
          .otherwise(0.0), 9).as("distinct_frac"))
  }

  /** Zipf power-law slope of the token frequency distribution: OLS of
    * ln(count) on ln(rank) over the top `maxRanks` tokens — natural
    * text sits near −1 (Zipf 1949); templated or synthetic corpora bend
    * flat or cliff, making the slope a one-number corpus-health
    * diagnostic next to [[vocabCoverage]]. Ranks order by (count desc,
    * token asc) — fully deterministic under ties. One row: (n_ranks,
    * slope).
    *
    * Scale shape: one token hash-aggregate, one TakeOrdered of the top
    * `maxRanks` (bounded driver state, the coverage-curve convention),
    * then an O(maxRanks) driver OLS.
    */
  def zipfSlope(docs: DataFrame, textCol: String,
                maxRanks: Int = 1000): DataFrame = {
    require(maxRanks >= 2, s"zipfSlope: maxRanks must be >= 2: $maxRanks")
    val spark = docs.sparkSession
    import spark.implicits._
    val top = docs.select(explode(tokens(col(textCol))).as("__t"))
      .filter(length(col("__t")) > 0)
      .groupBy("__t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("__t"))
      .limit(maxRanks)
      .select("c").as[Long].collect()
    require(top.length >= 2,
      s"zipfSlope: need >= 2 distinct tokens: ${top.length}")
    val xs = top.indices.map(i => math.log(i + 1.0))
    val ys = top.map(c => math.log(c.toDouble))
    val nn = top.length.toDouble
    val sx = xs.sum; val sy = ys.sum
    val sxx = xs.map(x => x * x).sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val slope = (sxy - sx * sy / nn) / (sxx - sx * sx / nn)
    Seq((top.length, BigDecimal(slope).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("n_ranks", "slope")
  }

  /** Vocabulary-richness estimates from the token frequency spectrum —
    * how much vocabulary the corpus has NOT yet shown, the
    * complement of [[vocabCoverage]]'s how-much-it-has: Chao1's
    * lower-bound species estimate (Chao 1984, bias-corrected form
    * `V + F1·(F1−1)/(2·(F2+1))`, defined even at F2 = 0) and the
    * Good–Turing unseen-probability mass `F1/N` (Good 1953) — the
    * probability the NEXT token drawn is a type never seen. F1/F2 =
    * hapax/dis legomena counts. One row: (n_tokens, vocab, f1, f2,
    * chao1, gt_unseen_mass), doubles rounded at 9; every ratio is a
    * single division of exact integers, so the oracle matches
    * bit-for-bit. Empty corpora refuse.
    *
    * Scale shape: one token hash-aggregate (map-side combined) + ONE
    * scalar aggregate over it folding the whole frequency spectrum —
    * no second corpus pass, no driver state beyond six numbers.
    */
  def vocabRichness(docs: DataFrame, textCol: String): DataFrame = {
    val freq = docs.select(explode(tokens(col(textCol))).as("__t"))
      .filter(length(col("__t")) > 0)
      .groupBy("__t").agg(count(lit(1)).as("c"))
    // localCheckpoint pins the ONE corpus aggregate; the require and
    // the returned frame both read the 1-row result, not the corpus
    val out = freq.agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .localCheckpoint()
    require(!out.head().isNullAt(0),
      "vocabRichness: empty corpus — no tokens to estimate from")
    out.select(col("n_tokens"), col("vocab"), col("f1"), col("f2"),
      round(col("vocab") + col("f1").cast("double")
        * (col("f1") - lit(1)).cast("double")
        / (lit(2.0) * (col("f2") + lit(1)).cast("double")), 9)
        .as("chao1"),
      round(col("f1").cast("double") / col("n_tokens"), 9)
        .as("gt_unseen_mass"))
  }

  /** Robust per-group outlier census on a numeric column via the median
    * / MAD rule: a value is an outlier when
    * {{{ |x − median| > k · 1.4826 · MAD,  MAD = median(|x − median|) }}}
    * (1.4826 = the normal-consistency constant) — the quality-signal
    * cleaning step that survives the heavy tails mean/stddev z-scores
    * drown in. Returns one row per group: (group, n, median, mad,
    * n_outliers). A constant group (MAD 0) flags every value off the
    * median, the textbook degeneracy — callers with discrete-valued
    * signals should widen k or pre-bucket.
    *
    * Scale shape: two grouped percentile aggregates (medians, then MADs
    * over the deviations) + one group-keyed join between them + one
    * census reduce. `exact = true` uses exact interpolated percentiles
    * (one group's values in one task — the oracle-pinnable form);
    * default `false` rides `approx_percentile` for the 100 TB path
    * (bounded sketch state, same shape) — the perplexityBuckets
    * convention.
    */
  def madOutliers(df: DataFrame, valueCol: String, groupCol: String,
                  k: Double = 3.0, exact: Boolean = false): DataFrame = {
    require(k > 0, s"madOutliers: k must be > 0: $k")
    def med(c: Column): Column =
      if (exact) percentile(c, lit(0.5)) else approx_percentile(c, lit(0.5), lit(10000))
    val x = df.select(col(groupCol).as("grp"),
        col(valueCol).cast("double").as("__x"))
      .filter(col("__x").isNotNull)
    val medians = x.groupBy("grp").agg(med(col("__x")).as("__med"))
    val withDev = x.join(medians, "grp")
      .withColumn("__dev", abs(col("__x") - col("__med")))
    val mads = withDev.groupBy("grp").agg(med(col("__dev")).as("__mad"))
    withDev.join(mads, "grp")
      .groupBy("grp")
      .agg(count(lit(1)).as("n"),
        round(max(col("__med")), 9).as("median"),
        round(max(col("__mad")), 9).as("mad"),
        sum(when(col("__dev") > lit(k * 1.4826) * col("__mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** n-gram novelty: the fraction of each document's DISTINCT word
    * n-grams that appear in NO other document — the inverse boilerplate
    * signal (templated/syndicated text scores near 0, original prose
    * near 1; the doc-level complement of the corpus-level
    * [[dupNgramFrac]] and the dedup family's pair views). Returns
    * (id, n_grams, novel_frac) with novel_frac = 0 for gram-less docs.
    *
    * Scale shape: one explode of the distinct-shingle arrays
    * ([[graft.ops.Dedup.wordShingles]], the dedup family's shared gram
    * definition) into a gram-keyed docfreq hash-aggregate, one gram
    * join back, one doc-keyed reduce — the tfidf two-shuffle shape;
    * Zipf-head gram skew is AQE's skew-split case, same as tfidf's.
    */
  def ngramNovelty(docs: DataFrame, textCol: String, idCol: String,
                   n: Int = 3): DataFrame = {
    require(n >= 1, s"ngramNovelty: n must be >= 1: $n")
    val grams = docs.select(col(idCol),
        explode(graft.ops.Dedup.wordShingles(col(textCol), n)).as("__g"))
      .filter(length(col("__g")) > 0)
    val df = grams.groupBy("__g").agg(count(lit(1)).as("__df"))
    val scored = grams.join(df, "__g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        round(avg(when(col("__df") === 1, 1.0).otherwise(0.0)), 9)
          .as("novel_frac"))
    docs.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("novel_frac"), lit(0.0)).as("novel_frac"))
  }

  /** Min-K% Prob membership/contamination score (Shi et al. 2023,
    * "Detecting Pretraining Data from Large Language Models"): per
    * document, the mean surprisal of its k%-LOWEST-probability tokens —
    * memorized or contaminated text has anomalously FEW low-probability
    * outlier tokens, so a low score on supposedly-unseen text is the
    * membership red flag. The paper scores under the target LLM; here
    * the corpus unigram LM stands in (the same substitution
    * [[unigramSurprisal]] makes for CCNet), which keeps the score
    * self-contained and the oracle exact. Returns (id, n_tokens,
    * n_scored, mink_nll) with n_scored = max(1, ⌈kPct·n_tokens⌉);
    * token-less documents drop (no tokens to score).
    *
    * Tie robustness: token nll is a pure function of the token's corpus
    * count, so rank ties at the selection boundary are EQUAL nll values
    * — the mean is invariant to which of them the engine picks, and the
    * DuckDB replay needs no tie-break to hash-match.
    *
    * Scale shape: the [[unigramSurprisal]] model aggregates plus ONE
    * doc-keyed collect of per-occurrence nlls with the top-k% slice as
    * scan-side Column algebra (sort_array + slice + aggregate) — per-doc
    * state is one document's tokens, the renderChat bound; no window
    * over the corpus.
    */
  def minKProb(docs: DataFrame, textCol: String, idCol: String,
               kPct: Double = 0.2): DataFrame = {
    require(kPct > 0 && kPct <= 1, s"minKProb: kPct in (0,1]: $kPct")
    val occ = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .filter(length(col("__t")) > 0)
    val model = occ.groupBy("__t").agg(count(lit(1)).as("cnt"))
    val total = model.agg(sum(col("cnt")).as("__total"))
    occ.join(model, "__t").crossJoin(broadcast(total))
      .select(col(idCol),
        (-log(col("cnt").cast("double") / col("__total").cast("double")))
          .as("__nll"))
      .groupBy(col(idCol))
      .agg(collect_list(col("__nll")).as("__ns"))
      .select(col(idCol), size(col("__ns")).cast("long").as("n_tokens"),
        greatest(lit(1L), ceil(lit(kPct) * size(col("__ns"))))
          .as("n_scored"),
        sort_array(col("__ns"), asc = false).as("__sorted"))
      .select(col(idCol), col("n_tokens"), col("n_scored"),
        round(aggregate(
            slice(col("__sorted"), lit(1), col("n_scored").cast("int")),
            lit(0d), (s, x) => s + x) / col("n_scored").cast("double"), 9)
          .as("mink_nll"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): the
    * corpus is split into `head` / `middle` / `tail` by the terciles of
    * the per-doc LM surprisal ([[unigramSurprisal]]; low surprisal =
    * head = most in-distribution — the bucket CCNet keeps or upweights).
    * Compose downstream with [[graft.ops.Sampling.stratifiedSample]] or
    * [[graft.ops.Sampling.temperatureWeights]] for the published
    * keep-the-head recipes. Token-less documents have no surprisal and
    * are absent, as in [[unigramSurprisal]].
    *
    * Scale shape: surprisal is two hash-aggs + a broadcast model,
    * materialized ONCE (localCheckpoint) so the threshold aggregation
    * and the labeled output don't each recompute the corpus scans. The
    * cut points are one aggregation returning 2 doubles: by default
    * `approx_percentile` (sketch-bounded state — the 100 TB form; the
    * per-doc nll is near-unique, so EXACT percentile state is O(docs)
    * in one task); `exact = true` opts into exact interpolated
    * percentiles for oracle-pinned comparisons at test scale. Both are
    * rounded to 6 decimals so bucket assignment is engine-stable; the
    * bucket label itself is a scan-side CASE.
    */
  def perplexityBuckets(docs: DataFrame, textCol: String, idCol: String,
                        cuts: (Double, Double) = (1.0 / 3, 2.0 / 3),
                        exact: Boolean = false,
                        bigram: Boolean = false)
  : DataFrame = {
    require(cuts._1 > 0 && cuts._1 < cuts._2 && cuts._2 < 1,
      s"perplexityBuckets: cuts must satisfy 0 < c1 < c2 < 1: $cuts")
    // `bigram = true` scores with the interpolated bigram LM — the
    // closer-to-CCNet signal — at the cost of the extra (broadcast)
    // bigram-model join; the bucketing mechanics are identical
    val s = (if (bigram) bigramSurprisal(docs, textCol, idCol)
             else unigramSurprisal(docs, textCol, idCol)).localCheckpoint()
    val fn = if (exact) "percentile" else "approx_percentile"
    val acc = if (exact) "" else ", 10000" // 1e4 accuracy: ±0.01% rank
    val r = s.agg(expr(s"$fn(nll, ${cuts._1}$acc)"),
      expr(s"$fn(nll, ${cuts._2}$acc)")).head()
    require(!r.isNullAt(0) && !r.isNullAt(1),
      "perplexityBuckets: empty corpus (no documents with tokens)")
    def stable(v: Double): Double = math.floor(v * 1e6 + 0.5) / 1e6
    val (t1, t2) = (stable(r.getDouble(0)), stable(r.getDouble(1)))
    s.withColumn("ppl_bucket",
      when(col("nll") <= t1, "head")
        .when(col("nll") <= t2, "middle")
        .otherwise("tail"))
  }

  // ----------------------------------------------------------- sketches

  /** Count-min sketch over the corpus token stream — approximate frequency
    * for ANY token in sub-linear memory (width·depth counters vs a
    * vocab-sized exact map). Built distributed: Spark's
    * `stat.countMinSketch` runs one aggregation pass with commutative
    * elementwise-sum merges, so the result is deterministic for a given
    * seed regardless of partitioning. The CMS contract: estimates NEVER
    * undercount, and overcount ≤ eps·total with probability ≥ confidence.
    */
  def tokenSketch(docs: DataFrame, textCol: String, eps: Double = 1e-3,
                  confidence: Double = 0.999, seed: Int = 42)
  : org.apache.spark.util.sketch.CountMinSketch =
    docs.select(explode(tokens(col(textCol))).as("__t"))
      .filter(length(col("__t")) > 0)
      .stat.countMinSketch("__t", eps, confidence, seed)

  /** Approximate counts for a candidate token list from one sketch pass —
    * the heavy-hitter probe. Candidates are by definition a small list
    * (the whole point of a sketch is not materializing the vocab), so the
    * probe is driver-side against the merged sketch.
    */
  def approxTokenCounts(docs: DataFrame, textCol: String,
                        candidates: Seq[String], eps: Double = 1e-3,
                        confidence: Double = 0.999, seed: Int = 42)
  : Seq[(String, Long)] = {
    val cms = tokenSketch(docs, textCol, eps, confidence, seed)
    candidates.map(t => t -> cms.estimateCount(t))
  }

  // ------------------------------------------------------------- URL / domain

  /** Host part of a URL (authority minus userinfo/port). Pure regexp —
    * RE2-portable, so any engine reproduces it (unlike `parse_url`, which
    * is Spark-specific).
    */
  def urlHost(url: Column): Column =
    regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)", 1)

  /** Registrable-ish domain: the last two dot-labels of the host (the
    * heuristic pipelines use when a public-suffix list is overkill).
    */
  def urlDomain(url: Column): Column =
    regexp_extract(urlHost(url), "([^.]+\\.[^.]+)$", 1)

  /** Filter rows whose URL's domain is on a blocklist. The blocklist is a
    * plan literal (domain blocklists are ~1e5 entries — scan-side
    * `isin`/broadcast scale, never a shuffle).
    */
  def domainFilter(df: DataFrame, urlCol: String,
                   blocklist: Seq[String]): DataFrame =
    df.filter(!urlDomain(col(urlCol)).isin(blocklist: _*))

  /** Query parameters dropped by [[canonicalUrl]]: the cross-site
    * tracking/attribution names that vary per click without changing the
    * fetched page — the reason one page shows up under thousands of
    * "distinct" URLs in a crawl.
    */
  val trackingParams: Seq[String] =
    Seq("utm_[^&=]*", "gclid", "fbclid", "ref", "mc_cid", "mc_eid")

  /** URL canonicalization for crawl-level dedup: URL-keyed dedup is the
    * FIRST dedup of every web pipeline (exact text dedup only sees pages
    * it fetched; URL dedup prevents fetching the same page twice), and it
    * only works when the thousand spellings of one page collapse — so:
    * fragment dropped (never sent to the server), scheme+host lowercased
    * (case-insensitive by spec; paths are NOT — case-significant on most
    * servers), default ports 80/443 dropped, tracking parameters
    * ([[trackingParams]]) removed with separator debris cleaned up, and
    * trailing path slashes stripped. Heuristic by design (no public-
    * suffix list, no %-decode) — the trade crawl pipelines make; pure
    * RE2-portable Column algebra, scan-side, engine-replayable.
    */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    // lowercase ONLY the scheme://user@host:port prefix
    val pre = "^([a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?[^/?#]*)([^#]*)$"
    // schemeless strings pass through un-lowered (regexp_extract would
    // blank them out)
    val lowered = when(noFrag.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"),
      concat(lower(regexp_extract(noFrag, pre, 1)),
        regexp_extract(noFrag, pre, 2))).otherwise(noFrag)
    val noPort = regexp_replace(lowered,
      "^([a-z][a-z0-9+.-]*://[^/?#]*):(?:80|443)([/?]|$)", "$1$2")
    // each tracker keeps its leading delimiter, so back-to-back trackers
    // all match; the debris passes collapse what's left
    val noTrack = regexp_replace(noPort,
      "(?i)([?&])(?:" + trackingParams.mkString("|") + ")=[^&#]*", "$1")
    val debris = regexp_replace(
      regexp_replace(regexp_replace(noTrack, "&{2,}", "&"), "\\?&", "?"),
      "[?&]+$", "")
    regexp_replace(debris, "/+$", "")
  }

  def analyze(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("n_bpe_tokens", bpeTokenEstimate(t))
      .withColumn("pred_lang", langId(t))
      .withColumn("punct_ratio", punctRatio(t))
      .withColumn("digit_ratio", digitRatio(t))
      .withColumn("stopword_ratio", stopwordRatio(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("fingerprint", fingerprintExpr(textCol))
  }

  // ------------------------------------------------- importance resampling

  /** DSIR importance weights (Data Selection via Importance Resampling,
    * Xie et al. 2023): score every raw-corpus document by how much more
    * likely its tokens are under a hashed bag-of-words model of the
    * TARGET distribution than of the raw distribution —
    * `weight(doc) = Σ_tok log p̂_target(bucket(tok)) − log p̂_raw(bucket(tok))`
    * with add-one-smoothed bucket probabilities
    * `p̂(b) = (count(b) + 1) / (total + B)`. Selecting the top-weight
    * documents (or thresholding) upsamples target-like data — the
    * published pretraining-data-selection recipe. "Every" includes
    * token-less (empty/whitespace-only) documents, which score
    * (dsir_weight 0.0, n_tokens 0) rather than dropping out.
    *
    * Buckets use the engine-portable md5 draw ([[Sampling.hashBucket]]'s
    * construction): `int(first 8 hex of md5(token)) mod B`, so the exact
    * weights are reproducible on any engine (the DuckDB oracle
    * recomputes them bit-for-bit modulo 1e-6 rounding).
    *
    * Scale shape: the two bucket models are hash-aggregates into B rows
    * (B defaults to 1024; DSIR's paper uses 10k), materialized ONCE at
    * the driver — an O(buckets) collect, bounded by a parameter, not by
    * data (the same class as the heavy-hitter and k-means fits). The
    * per-bucket log ratios then re-enter the plan as a local relation, so
    * scoring is ONE corpus scan: explode → broadcast-hash-join with the
    * B-row table → per-doc partial sum (decontamination's shape; audited
    * in PlanAuditSpec — no SortMergeJoin, no corpus-wide token exchange,
    * and the model lineage is never re-executed inside the scoring job).
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, textCol: String,
                  idCol: String, buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    val spark = raw.sparkSession
    import spark.implicits._
    // explode_outer over the filtered token array keeps a token-less
    // (empty/whitespace-only) document as ONE null-token row, so it still
    // reaches the final per-doc aggregate — scoring every raw-corpus
    // document as the contract promises — without a second corpus join
    def bucketed(df: DataFrame) = df
      .select(col(idCol),
        explode_outer(filter(tokens(col(textCol)),
          t => length(t) > 0)).as("__tok"))
      .withColumn("__b",
        conv(substring(md5(col("__tok")), 1, 8), 16, 10).cast("long")
          % buckets)
    val rawToks = bucketed(raw)
    def counts(df: DataFrame): Map[Long, Long] =
      df.filter(col("__b").isNotNull)
        .groupBy("__b").agg(count(lit(1)).as("__c"))
        .as[(Long, Long)].collect().toMap
    val cr = counts(rawToks)
    val ct = counts(bucketed(target))
    val tr = cr.values.sum.toDouble
    val tt = ct.values.sum.toDouble
    val logRatio = (cr.keySet ++ ct.keySet).toSeq.sorted.map { b =>
      (b, math.log((ct.getOrElse(b, 0L) + 1.0) / (tt + buckets)) -
          math.log((cr.getOrElse(b, 0L) + 1.0) / (tr + buckets)))
    }.toDF("__b", "__lr")
    // left join: the null-bucket (token-less doc) rows match nothing and
    // aggregate to weight 0.0 / n_tokens 0; every real bucket is in the
    // model by construction, so no other row takes the null branch
    rawToks.join(broadcast(logRatio), Seq("__b"), "left")
      .groupBy(idCol)
      .agg(round(coalesce(sum("__lr"), lit(0.0)), 6).as("dsir_weight"),
        count(col("__tok")).as("n_tokens"))
  }

  /** Pairwise Jensen–Shannon divergence (base 2, so 0 = identical, 1 =
    * disjoint) between the unigram distributions of every pair of corpora
    * (`corpusCol` values) — the data-mixing diagnostic: which sources are
    * redundant with each other, which contribute novel text.
    *
    * Formulated WITHOUT a full outer join: for words present in both
    * corpora the exact terms p·ln(2p/(p+q)) and q·ln(2q/(p+q)) aggregate
    * over the word-keyed inner join; a word missing from the other corpus
    * contributes exactly p·ln 2, so the unmatched tail folds into
    * (1 − Σ_shared p)·ln 2 — no per-word null handling, no outer join.
    *
    * Scale shape: one explode → (corpus, word) hash-aggregate with
    * map-side partial combine; per-corpus totals broadcast back; the pair
    * terms come from a word-partitioned self-equi-join whose per-word
    * output is ≤ (corpora containing the word)², aggregated map-side
    * before the (corpus_a, corpus_b) shuffle — the number of corpora is
    * small by definition (it is a label set, not data), so the final
    * matrix is tiny. Zero-overlap pairs are completed from the corpus dim
    * (a broadcast cross of two 1-column aggregates) and surface as JS = 1.
    */
  def corpusDivergenceJS(docs: DataFrame, textCol: String,
                         corpusCol: String): DataFrame = {
    val ln2 = math.log(2.0)
    val occ = docs.select(col(corpusCol).as("__c"),
      explode(nonEmptyTokens(col(textCol))).as("__w"))
    val cnt = occ.groupBy("__c", "__w").agg(count(lit(1)).as("__n"))
    val tot = cnt.groupBy("__c").agg(sum("__n").as("__t"))
    val p = cnt.join(broadcast(tot), "__c")
      .select(col("__c"), col("__w"),
        (col("__n").cast("double") / col("__t")).as("__p"))
    val a = p.select(col("__c").as("corpus_a"), col("__w"), col("__p").as("__pa"))
    val b = p.select(col("__c").as("corpus_b"), col("__w"), col("__p").as("__pb"))
    val shared = a.join(b, "__w")
      .filter(col("corpus_a") < col("corpus_b"))
      .groupBy("corpus_a", "corpus_b")
      .agg(
        sum(col("__pa") * log(lit(2) * col("__pa") / (col("__pa") + col("__pb")))).as("__sa"),
        sum(col("__pb") * log(lit(2) * col("__pb") / (col("__pa") + col("__pb")))).as("__sb"),
        sum("__pa").as("__ma"), sum("__pb").as("__mb"))
    val dim = tot.select("__c")
    val pairs = dim.select(col("__c").as("corpus_a"))
      .crossJoin(broadcast(dim.select(col("__c").as("corpus_b"))))
      .filter(col("corpus_a") < col("corpus_b"))
    pairs.join(shared, Seq("corpus_a", "corpus_b"), "left")
      .select(col("corpus_a"), col("corpus_b"),
        round((
          (coalesce(col("__sa"), lit(0.0)) +
            (lit(1.0) - coalesce(col("__ma"), lit(0.0))) * ln2) * 0.5 +
          (coalesce(col("__sb"), lit(0.0)) +
            (lit(1.0) - coalesce(col("__mb"), lit(0.0))) * ln2) * 0.5
        ) / ln2, 6).as("js_divergence"))
  }

  /** Collocation mining via normalized pointwise mutual information
    * (NPMI, Bouma 2009): adjacent token pairs scored by
    * ln(p(w1,w2) / (p(w1)·p(w2))) / −ln p(w1,w2) ∈ [−1, 1] — the
    * word2phrase step that decides which bigrams deserve a place in a
    * phrase vocabulary ("new york", "machine learning"). Returns the
    * `topK` highest-NPMI bigrams with count ≥ `minCount`, ties broken by
    * (w1, w2).
    *
    * Scale shape: one tokenize + two explodes feed two hash-aggregates
    * with map-side partial combine (bigram counts keyed by the pair,
    * unigram counts by the token); the totals are 1-row aggregates
    * joined in by broadcast; the final top-k is a TakeOrdered. No
    * all-pairs anywhere — cost is O(corpus tokens).
    */
  def collocations(docs: DataFrame, textCol: String, minCount: Long = 2,
                   topK: Int = 100): DataFrame = {
    require(minCount >= 1, s"collocations needs minCount >= 1 (got $minCount)")
    require(topK >= 1, s"collocations needs topK >= 1 (got $topK)")
    val t = docs.select(nonEmptyTokens(col(textCol)).as("__ts"))
      .filter(size(col("__ts")) >= 2)
    val n = size(col("__ts"))
    val bg = t.select(explode(arrays_zip(
        slice(col("__ts"), lit(1), n - 1).as("__w1"),
        slice(col("__ts"), lit(2), n - 1).as("__w2"))).as("__b"))
      .select(col("__b.__w1").as("w1"), col("__b.__w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
    val uni = docs.select(explode(nonEmptyTokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
    val nUni = uni.agg(sum("__c").as("__nu"))
    // ONE normalizer (the token count) for unigram AND bigram
    // probabilities: n12 <= min(c1, c2) then guarantees p12 <= p1, p2 and
    // keeps NPMI inside [-1, 1] — a bigram-count denominator can push the
    // score past 1 (p12 over a smaller space than p1·p2)
    // the unigram model joins are token-keyed equi-joins, NOT forced
    // broadcasts — the vocabulary of a 100 TB web corpus is itself large,
    // and the left side is already pruned to the >= minCount bigrams
    // (AQE broadcasts at test scale on its own)
    bg.filter(col("n12") >= minCount)
      .join(uni.withColumnRenamed("__w", "w1")
        .withColumnRenamed("__c", "__c1"), "w1")
      .join(uni.withColumnRenamed("__w", "w2")
        .withColumnRenamed("__c", "__c2"), "w2")
      .crossJoin(broadcast(nUni))
      .withColumn("__p12", col("n12").cast("double") / col("__nu"))
      .withColumn("__p1", col("__c1").cast("double") / col("__nu"))
      .withColumn("__p2", col("__c2").cast("double") / col("__nu"))
      // p12 = 1 would zero the normalizer; a 1-bigram corpus is the only
      // way there, and minCount/corpus size make it unreachable in
      // practice — guard anyway so the expression is total
      .withColumn("npmi",
        when(col("__p12") >= 1.0, lit(1.0)).otherwise(
          round(log(col("__p12") / (col("__p1") * col("__p2"))) /
            -log(col("__p12")), 6)))
      .select(col("w1"), col("w2"), col("n12"), col("npmi"))
      .orderBy(col("npmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** The apply step of word2phrase: greedily merge adjacent token pairs
    * that appear in `phrases` (left to right, non-overlapping — the
    * published word2phrase pass shape), joining them with `joiner`. The
    * output text splits back to the original token stream by splitting
    * each token on the joiner (lossless modulo whitespace runs), which is
    * the invariant q_phrases checks.
    *
    * Scale shape: the phrase set broadcasts inside a closure (it is a
    * vocabulary artifact, bounded by the mining `topK`), and the rewrite
    * is one scan-side projection — no shuffle, no join.
    */
  def applyPhrases(docs: DataFrame, textCol: String,
                   phrases: Seq[(String, String)],
                   outCol: String = "phrased_text",
                   joiner: String = "_"): DataFrame = {
    require(!docs.columns.contains(outCol),
      s"applyPhrases reserves output column $outCol")
    val set = phrases.toSet
    val merge = udf { (toks: Seq[String]) =>
      if (toks == null) null
      else {
        val out = Seq.newBuilder[String]
        var i = 0
        while (i < toks.length) {
          if (i + 1 < toks.length && set((toks(i), toks(i + 1)))) {
            out += s"${toks(i)}$joiner${toks(i + 1)}"; i += 2
          } else { out += toks(i); i += 1 }
        }
        out.result().mkString(" ")
      }
    }
    docs.withColumn(outCol, merge(nonEmptyTokens(col(textCol))))
  }

  /** Vocabulary coverage curve — the tokenizer-sizing diagnostic: for
    * each checkpoint k, the corpus token mass covered by the k most
    * frequent types (ties by token, so the curve is deterministic).
    * "What vocab size buys 95% coverage" read straight off the rows;
    * the Heaps-law tail is the complement.
    *
    * Scale shape: ONE (token → count) hash-aggregate with map-side
    * combine, then ONE TakeOrdered(max ks) over the aggregated
    * VOCABULARY (never corpus rows) — every checkpoint reads off the
    * driver-side prefix sums of those ≤ max(ks) counts (~80 KB at the
    * usual 10k ceiling). Deliberately NOT a cumulative window over the
    * ranked vocab, which would serialize the whole type table into one
    * task; the caller bounds driver state by the largest checkpoint.
    */
  def coverageCurve(docs: DataFrame, textCol: String,
                    ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1),
      s"coverageCurve needs positive checkpoints (got $ks)")
    val spark = docs.sparkSession
    import spark.implicits._
    val ksNorm = ks.distinct.sorted
    val freq = docs.select(explode(nonEmptyTokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // finally: the empty-corpus refusal below must not leak the cache
    try {
      val total = freq.agg(coalesce(sum("__n"), lit(0L))).head().getLong(0)
      require(total > 0, "coverageCurve: corpus has no tokens")
      val counts = freq.orderBy(col("__n").desc, col("__w"))
        .limit(ksNorm.last).select(col("__n")).as[Long].collect()
      val prefix = counts.scanLeft(0L)(_ + _)
      val rows = ksNorm.map { k =>
        val covered = prefix(math.min(k, counts.length))
        val cov = BigDecimal(covered.toDouble / total)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (k, covered, total, cov)
      }
      rows.toDF("k", "covered", "total", "coverage")
    } finally freq.unpersist(false)
  }

  /** Windowed co-occurrence counts — the word2vec/GloVe context-count
    * preprocessing step: every unordered token pair within `window`
    * positions of each other, counted corpus-wide (a pair seen at both
    * orientations collapses via (least, greatest), so "new york" and
    * "york ... new" accumulate together). Returns the `topK` most
    * frequent pairs with count ≥ `minCount`, ties by (w1, w2).
    * [[collocations]] is the window = 1 special case scored by NPMI;
    * this is the raw count matrix wider contexts feed on.
    *
    * Scale shape: ONE tokenize and ONE Generate — all `window` offsets'
    * zipped slices concatenate inside a single projection before the
    * explode (a per-offset union would rescan and re-tokenize the
    * corpus once per offset: Spark does no common-subplan elimination
    * across union branches), collapsing into a single (w1, w2)
    * hash-aggregate with map-side combine, then a TakeOrdered top-k —
    * cost O(corpus tokens · window), never pairs².
    */
  def cooccurrence(docs: DataFrame, textCol: String, window: Int,
                   minCount: Long = 2, topK: Int = 100): DataFrame = {
    require(topK >= 1, s"cooccurrence: topK=$topK")
    cooccurrencePairs(docs, textCol, window, minCount)
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** The FULL co-occurrence pair frame behind [[cooccurrence]] (no
    * top-k): (w1, w2, n) with w1 < w2 — the input a graph consumer like
    * [[textRankKeywords]] needs, where truncating to the k heaviest
    * pairs would bias the walk. Same single-Generate scan shape.
    */
  def cooccurrencePairs(docs: DataFrame, textCol: String, window: Int,
                        minCount: Long = 2): DataFrame = {
    require(window >= 1, s"cooccurrence needs window >= 1 (got $window)")
    require(minCount >= 1, s"cooccurrence: minCount=$minCount")
    val t = docs.select(nonEmptyTokens(col(textCol)).as("__ts"))
      .filter(size(col("__ts")) >= 2)
    val n = size(col("__ts"))
    val allOffsets = flatten(array((1 to window).map { o =>
      arrays_zip(
        slice(col("__ts"), lit(1), greatest(n - o, lit(0))).as("__a"),
        slice(col("__ts"), lit(1 + o), greatest(n - o, lit(0))).as("__b"))
    }: _*))
    val pairs = t.select(explode(allOffsets).as("__p"))
      .select(least(col("__p.__a"), col("__p.__b")).as("w1"),
        greatest(col("__p.__a"), col("__p.__b")).as("w2"))
    pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    * PageRank over the corpus word co-occurrence graph — each
    * [[cooccurrencePairs]] pair becomes a SYMMETRIC edge weighted by its
    * count, and a word's stationary rank is its keyword score (words
    * that co-occur with many well-connected words rank high — the
    * graph-centrality upgrade over raw frequency). Returns the `topK`
    * (word, score) rows, score descending, ties by word.
    *
    * Scale shape: the pair frame is one tokenize + one Generate scan
    * (O(tokens · window)); the graph is O(distinct pairs) edges and the
    * walk is [[graft.ops.Graph.pageRankWeighted]] — src-partitioned
    * cached edges, one join + one aggregate per iteration, O(vocab)
    * state. Words enter the walk as xxhash64 ids (seed-fixed, the
    * engine's standard hash); a 64-bit collision would merge two words'
    * neighborhoods — at any real vocabulary (≪ 2³²) the probability is
    * negligible, and the id→word join-back would surface it as a
    * duplicated node row rather than silent corruption.
    */
  def textRankKeywords(docs: DataFrame, textCol: String, window: Int = 3,
                       minCount: Long = 2, topK: Int = 20, iters: Int = 10,
                       damping: Double = 0.85): DataFrame = {
    require(topK >= 1 && iters >= 1,
      s"textRankKeywords: topK=$topK iters=$iters")
    val pairs = cooccurrencePairs(docs, textCol, window, minCount)
      .filter(col("w1") =!= col("w2")) // no self-loops (classic TextRank)
      .localCheckpoint() // two consumers (edges, word map): scan once
    val sym = pairs.select(col("w1").as("ws"), col("w2").as("wd"), col("n"))
      .unionByName(pairs.select(col("w2").as("ws"), col("w1").as("wd"), col("n")))
    val edges = sym.select(xxhash64(col("ws")).as("src"),
      xxhash64(col("wd")).as("dst"), col("n").cast("double").as("w"))
    val ranks = Graph.pageRankWeighted(edges, "src", "dst", "w",
      iters, damping)
    val words = pairs.select(col("w1").as("word"))
      .unionByName(pairs.select(col("w2").as("word"))).distinct()
      .withColumn("node", xxhash64(col("word")))
    val ranked = ranks.join(words, "node")
      .select(col("word"), col("rank").as("score"))
      .orderBy(col("score").desc, col("word"))
    // Int.MaxValue = "the full roster" (skip the limit so the plan stays
    // a plain sort instead of a degenerate 2^31 top-k heap)
    if (topK == Int.MaxValue) ranked else ranked.limit(topK)
  }

  /** Tokenizer-vocabulary coverage audit: per group, total tokens, OOV
    * tokens (whitespace tokens absent from `vocab`), and the OOV rate —
    * the go/no-go number before committing a corpus slice to a fixed
    * tokenizer vocabulary (a slice whose OOV rate spikes will shred into
    * fallback pieces and blow its token budget). Groups with zero
    * tokens report rate 0.
    *
    * Scale shape: the vocabulary is a bounded artifact (a tokenizer
    * ships tens of thousands of entries) carried as a HASH SET in the
    * counting closure — O(1) per token however large the vocabulary (a
    * literal-array `array_contains` would scan all |vocab| entries per
    * token); no join, no explode; the scan collapses to one per-group
    * hash-aggregate with map-side combine.
    */
  def vocabCoverage(docs: DataFrame, textCol: String, groupCol: String,
                    vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "vocabCoverage needs a non-empty vocabulary")
    val vset = vocab.toSet
    val oovU = udf { (ts: Seq[String]) =>
      if (ts == null) Option.empty[Long]
      else Some(ts.count(t => !vset.contains(t)).toLong)
    }
    val toks = nonEmptyTokens(col(textCol))
    docs.select(col(groupCol),
        coalesce(size(toks), lit(0)).cast("long").as("__nt"),
        coalesce(oovU(toks), lit(0L)).as("__no"))
      .groupBy(groupCol)
      .agg(sum("__nt").as("n_tokens"), sum("__no").as("n_oov"),
        when(sum("__nt") === 0, lit(0.0))
          .otherwise(round(sum("__no") / sum("__nt").cast("double"), 6))
          .as("oov_rate"))
  }

  /** End-to-end word2phrase (Mikolov et al. 2013 §4): [[collocations]]
    * mining chained into [[applyPhrases]] in one call, `passes` times —
    * pass 2 sees pass 1's joined tokens as units, which is the published
    * recipe for promoting bigram phrases to trigrams ("new_york" + "city"
    * → "new_york_city"). Only mined bigrams with npmi ≥ `minNpmi` are
    * applied. Returns `docs` plus `outCol`; a pass that mines nothing
    * ends the loop early (later passes could not change the text).
    *
    * Scale shape: each pass is one bounded mining job (the collocations
    * hash-aggregates, driver artifact ≤ topK pairs) plus one scan-side
    * rewrite with the phrase set in the closure — passes are sequential
    * full scans, so cost is `passes` × O(corpus tokens) with no joins or
    * shuffles beyond the mining aggregates.
    */
  def minePhrases(docs: DataFrame, textCol: String, minCount: Long = 2,
                  topK: Int = 100, passes: Int = 1, minNpmi: Double = 0.0,
                  outCol: String = "phrased_text",
                  joiner: String = "_"): DataFrame =
    minePhrasesCore(docs, textCol, minCount, topK, passes, minNpmi,
      outCol, joiner)._1

  /** [[minePhrases]] plus the mined phrase vocabulary of each pass —
    * the artifact a caller persists to re-apply the phrasing to a later
    * corpus increment without re-mining. */
  def minePhrasesCore(docs: DataFrame, textCol: String, minCount: Long = 2,
                      topK: Int = 100, passes: Int = 1,
                      minNpmi: Double = 0.0,
                      outCol: String = "phrased_text",
                      joiner: String = "_"): (DataFrame, Seq[Seq[(String, String)]]) = {
    require(passes >= 1, s"minePhrases needs passes >= 1 (got $passes)")
    require(!docs.columns.contains(outCol),
      s"minePhrases reserves output column $outCol")
    val spark = docs.sparkSession
    import spark.implicits._
    val mined = Seq.newBuilder[Seq[(String, String)]]
    var cur = docs
    var src = textCol
    var pass = 0
    var dry = false
    while (pass < passes && !dry) {
      val phrases = collocations(
          cur.select(col(src).as("text")), "text", minCount, topK)
        .filter(col("npmi") >= minNpmi)
        .select("w1", "w2").as[(String, String)].collect().toSeq
      dry = phrases.isEmpty
      if (!dry) {
        mined += phrases
        val tmp = s"__phrase_p$pass"
        cur = applyPhrases(cur, src, phrases, tmp, joiner)
        if (src != textCol) cur = cur.drop(src)
        src = tmp
      }
      pass += 1
    }
    val out =
      if (src == textCol)
        // nothing mined at all: outCol is the whitespace-normalized
        // token stream (what applyPhrases with an empty set emits)
        applyPhrases(cur, textCol, Nil, outCol, joiner)
      else cur.withColumnRenamed(src, outCol)
    (out, mined.result())
  }

  /** The `k` most frequent tokens per corpus/group, rank-ordered
    * (ties broken by token, so the result is deterministic) — the
    * per-source vocabulary profile behind boilerplate spotting and
    * source fingerprinting.
    *
    * Scale shape: the corpus scan collapses to a (group, token)
    * hash-aggregate with map-side partial combine FIRST; the rank window
    * then runs over aggregated counts (bounded by group-local vocabulary,
    * not corpus tokens), partitioned by the group key.
    */
  def topTermsPerGroup(docs: DataFrame, textCol: String, groupCol: String,
                       k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = docs
      .select(col(groupCol), explode(nonEmptyTokens(col(textCol))).as("token"))
      .groupBy(col(groupCol), col("token")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("n").desc, col("token"))
    cnt.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col(groupCol), col("rank"), col("token"), col("n"))
  }
}
