package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: tokenization,
  * quality scoring, language ID, fingerprinting. All pure `Column`
  * compositions of built-ins (higher-order array functions evaluate
  * natively per row — no UDF/serialization cost; the plan stays a narrow
  * map that scales linearly).
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word chunks + standalone punctuation marks
    * (a cheap proxy for a byte-pair tokenizer's piece count).
    */
  def subwordCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"))

  /** PII patterns kept deliberately inside the RE2 ∩ java.util.regex
    * common subset (character classes + bounded repetition only): the
    * same literal pattern must mean the same thing to Spark, to the
    * DuckDB oracle, and to any engine a redaction audit replays on.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+1-555-[0-9]{4}"

  /** Redact emails and phone numbers (all occurrences). Pure per-row
    * string work — a narrow map stage at any scale.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, lit(EmailPattern), lit("<EMAIL>")),
      lit(PhonePattern), lit("<PHONE>"))

  /** Punctuation density: non-word non-space chars / total chars. */
  def punctRatio(text: Column): Column =
    regexp_count(text, lit("[^A-Za-z0-9_\\s]")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** English-ish stopword list used by the ratio/quality features. */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "by", "at", "this", "that")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column): Column = {
    val sw = array(stopwords.map(lit): _*)
    size(filter(tokens(text), t => array_contains(sw, t))).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")
  }

  /** Mean token length (characters per whitespace token). */
  def meanTokenLen(text: Column): Column =
    length(regexp_replace(trim(text), lit("\\s+"), lit(""))).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  /** Composite quality score in [0,1]: rewards mid-length docs with low
    * punctuation noise and a natural stopword rate. Deterministic
    * arithmetic only (no floats-by-accumulation), so it hash-matches an
    * oracle re-expression.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / lit(64.0), lit(1.0))
    val punctPenalty = least(punctRatio(text) * lit(4.0), lit(1.0))
    val swScore = least(stopwordRatio(text) * lit(5.0), lit(1.0))
    round(lenScore * lit(0.5) + (lit(1.0) - punctPenalty) * lit(0.25) +
      swScore * lit(0.25), 6)
  }

  /** Single-pass per-row feature struct (n_tokens, n_punct, n_stopwords,
    * n_chars, n_nonws, n_markers, quality) — the native form of the
    * Column features above, every field bit-identical to its namesake
    * (TextAnalysisSpec cross-checks). Use via [[withFeatures]] so the
    * pass really happens once per row.
    */
  def features(text: Column, markers: Seq[String] = Nil): Column =
    graft.plans.TextFeatures(text, stopwords, markers)

  /** Attach [[features]] as column `fCol`, computed ONCE per row.
    *
    * The binding goes through `explode(array(...))` deliberately: the
    * resulting Generate node materializes the struct as an attribute,
    * and downstream `f.getField(...)` reads are O(1) field accesses.
    * A plain `withColumn` would NOT do this — Catalyst has no
    * let-binding, so CollapseProject/predicate-pushdown re-inline the
    * whole expression into every consumer (filter + each aggregate),
    * re-tokenizing the document per reference.
    */
  def withFeatures(df: DataFrame, textCol: String, fCol: String = "f",
      markers: Seq[String] = Nil): DataFrame =
    df.withColumn(fCol, explode(array(features(col(textCol), markers))))

  /** Quality-feature ratios from a [[features]] struct — same arithmetic
    * (and same 6-dp rounding sites in the queries) as the text-column
    * forms above, but each reference costs a field read, not a re-parse.
    */
  def punctRatioFrom(f: Column): Column =
    f.getField("n_punct").cast("double") /
      greatest(f.getField("n_chars"), lit(1)).cast("double")

  def stopwordRatioFrom(f: Column): Column =
    f.getField("n_stopwords").cast("double") /
      greatest(f.getField("n_tokens"), lit(1)).cast("double")

  def meanTokenLenFrom(f: Column): Column =
    f.getField("n_nonws").cast("double") /
      greatest(f.getField("n_tokens"), lit(1)).cast("double")

  /** [[qualityScore]] from a [[features]] struct — the struct's
    * `quality` field, spec-pinned BIT-identical to the text-column
    * form (TextAnalysisSpec, no rounding in the comparison). Use when
    * a query already carries the struct: the text form re-parses the
    * document once per component ratio (measured 25.6 s for 500k sf10
    * docs vs ~2 s through the single-pass struct).
    */
  def qualityScoreFrom(f: Column): Column = f.getField("quality")

  /** Marker vocabularies for the n-gram/stopword language-ID heuristic.
    * Tiny by design: language ID at corpus scale is a per-row map; the
    * dictionary rides along as a literal (no join, no shuffle).
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "with", "for", "this"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "para", "una"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "pour", "une"),
    "zh" -> Seq("de", "shi", "bu", "wo", "le", "zai", "ren", "you")
  )

  /** Per-language marker hit count. */
  def langScore(text: Column, lang: String): Column = {
    val markers = array(langMarkers(lang).map(lit): _*)
    size(filter(tokens(text), t => array_contains(markers, lower(t))))
  }

  /** Heuristic language ID: argmax marker-hit count, ties broken by
    * language code ascending; "und" (undetermined) when nothing matches.
    *
    * Implemented as one tokenization pass feeding a score array;
    * `array_position(scores, array_max(scores))` picks the FIRST maximal
    * index, which in sorted-language order is exactly the tie rule. (A
    * chained when/struct fold would duplicate — and re-evaluate — every
    * score expression at each comparison level.)
    */
  def langId(text: Column): Column = {
    val ordered = langMarkers.keys.toSeq.sorted
    val toks = tokens(lower(text))
    val scores = array(ordered.map { l =>
      val markers = array(langMarkers(l).map(lit): _*)
      size(filter(toks, t => array_contains(markers, t)))
    }: _*)
    val langsArr = array(ordered.map(lit): _*)
    val best = element_at(langsArr,
      array_position(scores, array_max(scores)).cast("int"))
    when(array_max(scores) > 0, best).otherwise(lit("und"))
  }

  /** Language ID via explode + codegen'd aggregation — the
    * high-throughput form of [[langId]] (interpreted array-lambda filters
    * don't codegen and the argmax re-evaluates them): one row per token,
    * five conditional sums, then the same first-max-in-sorted-order
    * rule. Docs whose text yields no tokens classify as "und" via the
    * outer join back to `df`.
    */
  def langIdAgg(df: DataFrame, textCol: String, idCols: Seq[String]): DataFrame = {
    val ordered = langMarkers.keys.toSeq.sorted
    val exploded = df.select(
      idCols.map(col) :+
        explode(tokens(lower(col(textCol)))).as("tok"): _*)
    val scoreCols = ordered.map { l =>
      val markers = array(langMarkers(l).map(lit): _*)
      sum(when(array_contains(markers, col("tok")), 1).otherwise(0)).as(s"s_$l")
    }
    val scored = exploded.groupBy(idCols.map(col): _*)
      .agg(scoreCols.head, scoreCols.tail: _*)
    val mx = greatest(ordered.map(l => col(s"s_$l")): _*)
    val pick = ordered.foldRight(lit("und")) { (l, rest) =>
      when(col(s"s_$l") === col("__mx"), l).otherwise(rest)
    }
    val guessed = scored.withColumn("__mx", mx)
      .withColumn("lang_guess", when(col("__mx") > 0, pick).otherwise(lit("und")))
      .select(idCols.map(col) :+ col("lang_guess"): _*)
    df.select(idCols.map(col): _*).join(guessed, idCols, "left")
      .na.fill("und", Seq("lang_guess"))
  }

  /** Within-document repetition: fraction of word 3-gram occurrences
    * that are repeats of an earlier 3-gram in the same document — a
    * standard generated-/boilerplate-text signal (high value = the doc
    * keeps repeating itself). 0 for NULL text and docs with fewer than
    * n tokens. Each row's text is split a fixed number of times, never
    * once per shingle ([[Dedup.shingles]]).
    */
  def repetitionRatio(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    val total = greatest(size(toks) - lit(n - 1), lit(0))
    val distinctSh = size(graft.operators.Dedup.shingles(text, n))
    when(total > 0,
      round((total - distinctSh).cast("double") / total.cast("double"), 6))
      .otherwise(lit(0.0))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, appendix
    * A1.1 — the doc-level subset; the line-level rules need newline
    * structure this corpus lacks): per-rule pass flags appended as
    * boolean columns, every decision pure integer/regex arithmetic so a
    * SQL oracle replays it exactly.
    *
    *  - `g_word_count`:   50 ≤ tokens ≤ 100000
    *  - `g_mean_word_len`: mean token length in [3, 10] (integer sum
    *    over integer count, one final double division)
    *  - `g_symbol_ratio`: ('#' count + '...' count) / tokens ≤ 0.1
    *  - `g_alpha_words`:  ≥ 80% of tokens contain an alphabetic char
    *  - `g_stopwords`:    ≥ 1 distinct of the 8 Gopher stopwords
    *    (the, be, to, of, and, that, have, with). Gopher's own bar is
    *    ≥ 2 on web text; the synthetic corpus's 31-word vocabulary
    *    carries at most one of them per doc, so the faithful bar would
    *    fail every document and census nothing — the rule keeps its
    *    shape, the threshold adapts to the corpus
    *
    * NULL text yields NULL flags — aggregate with coalesce(flag,
    * false) so absent text counts as a failure, never a silent pass.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def withGopherFlags(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val w = size(toks)
    val sumLen = aggregate(transform(toks, t => length(t)),
      lit(0L), (a, x) => a + x)
    val mwl = sumLen.cast("double") / w.cast("double")
    val hashes = length(col(textCol)) -
      length(regexp_replace(col(textCol), "#", ""))
    val ellipses = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / lit(3)
    val alphaFrac = size(filter(toks, t => t.rlike("[A-Za-z]")))
      .cast("double") / greatest(w, lit(1)).cast("double")
    // intersect, not filter(stopwords, s => array_contains(lowered, s)):
    // that lambda would rebuild `lowered` once per stopword
    val lowered = transform(toks, t => lower(t))
    val swHits = size(array_intersect(array(GopherStopwords.map(lit): _*), lowered))
    df.withColumn("g_word_count", w.between(50, 100000))
      .withColumn("g_mean_word_len", mwl.between(3.0, 10.0))
      .withColumn("g_symbol_ratio",
        (hashes + ellipses).cast("double") / greatest(w, lit(1)).cast("double")
          <= 0.1)
      .withColumn("g_alpha_words", alphaFrac >= 0.8)
      .withColumn("g_stopwords", when(col(textCol).isNotNull, swHits >= 1))
  }

  /** Deflate compression ratio (compressed/raw bytes) — the classic
    * gibberish/boilerplate detector (highly repetitive text compresses
    * far below prose; random noise barely compresses). No SQL engine
    * exposes deflate, so there is no oracle — ground truth lives in
    * TextAnalysisSpec. Runs as `mapPartitions` so one Deflater (native
    * zlib state) is allocated per PARTITION and reset per row, the same
    * init-amortization shape as [[Multimodal.extractMeta]]; a UDF would
    * allocate and finalize native state per row.
    */
  def withCompressionRatio(df: DataFrame, textCol: String,
                           outCol: String = "compress_ratio"): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(df.schema.add(outCol, "double"))
    val idx = df.schema.fieldIndex(textCol)
    df.toDF().mapPartitions { it =>
      val deflater = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, false)
      val buf = new Array[Byte](1 << 16)
      it.map { r =>
        val raw = r.getString(idx).getBytes("UTF-8")
        deflater.reset()
        deflater.setInput(raw)
        deflater.finish()
        var compressed = 0L
        while (!deflater.finished()) compressed += deflater.deflate(buf)
        val ratio = if (raw.length == 0) 1.0
                    else compressed.toDouble / raw.length
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ ratio)
      }
    }(enc)
  }

  /** Add-one-smoothed unigram language-model score per document — the
    * CCNet-style statistical-quality signal: train token frequencies on
    * the corpus itself, then score each document by its mean token
    * surprisal −Σ log10 p(tok) / n (higher = more improbable text:
    * gibberish, boilerplate codes, rare-token soup; low = fluent
    * high-frequency prose). p(tok) = (c+1)/(N+V) with corpus token
    * count c, total tokens N, vocabulary size V.
    *
    * Scale shape: the model is an aggregate over the exploded corpus
    * (vocabulary-sized — orders of magnitude smaller than the corpus);
    * the score join shuffles (id, token) pairs against it, and AQE
    * broadcasts the model side when the vocabulary fits. Determinism:
    * each token's log-prob is rounded to 9 dp THEN summed as an exact
    * decimal — the sum is order-independent at any parallelism, so the
    * score is bit-stable and oracle-replayable (log10 itself may differ
    * in the last ulp across libm implementations; the pre-round kills
    * that before accumulation).
    *
    * Output: (idCol, n_tokens, lm_score). Docs: rounding to 6 dp keeps
    * the [0, ~10] score range well inside double exactness.
    */
  def lmScore(df: DataFrame, textCol: String, idCol: String): DataFrame =
    // the exploded token table is read by the model build AND the score
    // join — Spark plans share no subtrees, so it is persisted (and
    // registered with [[Intermediates]]): the heaviest pass (tokenize +
    // explode over the whole corpus, MEMORY_AND_DISK, larger than the
    // corpus) runs ONCE instead of twice
    lmScoreOver(Intermediates.persist(tokenTable(df, textCol, idCol)), idCol)

  private def tokenTable(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(lower(trim(col(textCol))))).as("tok"))

  private def lmScoreOver(toks: DataFrame, idCol: String): DataFrame = {
    val model = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val totals = model.agg(sum("c").as("n_total"), count(lit(1)).as("v_size"))
    toks.join(model, "tok") // model covers every corpus token: inner join
      .crossJoin(broadcast(totals))
      .withColumn("lp",
        round(log10((col("c") + 1).cast("double") /
          (col("n_total") + col("v_size")).cast("double")), 9)
          .cast("decimal(28,9)"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("lp").as("slp"))
      .withColumn("lm_score",
        round(-col("slp").cast("double") / col("n_tokens").cast("double"), 6))
      .select(col(idCol), col("n_tokens"), col("lm_score"))
  }

  /** Interpolated BIGRAM language-model scoring — the CCNet-style
    * perplexity filter one model order up from [[lmScore]]: per
    * interior bigram (v,w) of each doc,
    * `p = ½·c(v,w)/c(v·) + ½·(c(w)+1)/(N+V)` (Jelinek–Mercer
    * interpolation of the MLE bigram with the add-one unigram; λ=½ so
    * both weights are exact binary doubles), and per doc the mean
    * negative log10 over its bigrams. Docs with fewer than two tokens
    * have no bigrams and are dropped.
    *
    * Engine parity uses the [[lmScore]] recipe: every count is an
    * exact integer, `p` is a handful of correctly-rounded IEEE ops on
    * those integers, the per-bigram log10 is ROUNDED TO 9 DIGITS and
    * summed as DECIMAL(28,9) — exact and order-independent — and only
    * the final mean lands back in double.
    *
    * Scale shape: bigrams are born in the scan stage (a `transform`
    * over the token array + explode — no per-doc window/sort, so no
    * shuffle before the model groupBys); both model aggregations are
    * map-side-combined counts on (prev, tok) / (prev); the totals row
    * broadcasts. The exploded bigram table is persisted the [[lmScore]]
    * way, so the heaviest pass (tokenize + per-doc bigram explode over
    * the whole corpus) runs ONCE instead of twice (bigram-model build +
    * score join).
    */
  def lmBigramScore(df: DataFrame, textCol: String, idCol: String): DataFrame =
    lmBigramOver(Intermediates.persist(bigramTable(df, textCol, idCol)),
      df, textCol, idCol)

  private def bigramTable(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val arr = tokens(lower(trim(col(textCol))))
    df.select(col(idCol), arr.as("ts"))
      .filter(size(col("ts")) >= 2) // sequence(1, 0) would DESCEND
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("ts")) - 1),
        i => struct(element_at(col("ts"), i).as("prev"),
          element_at(col("ts"), i + 1).as("tok")))).as("bg"))
      .select(col(idCol), col("bg.prev").as("prev"), col("bg.tok").as("tok"))
  }

  private def lmBigramOver(
      bigrams: DataFrame, df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val arr = tokens(lower(trim(col(textCol))))
    val uni = df.select(explode(arr).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val totals = uni.agg(sum("c1").as("n_total"), count(lit(1)).as("v_size"))
    val bigModel = bigrams.groupBy("prev", "tok").agg(count(lit(1)).as("c2"))
    val ctx = bigModel.groupBy("prev").agg(sum("c2").as("cdot"))
    bigrams
      .join(bigModel, Seq("prev", "tok"))
      .join(ctx, Seq("prev"))
      .join(uni, Seq("tok"))
      .crossJoin(broadcast(totals))
      .withColumn("p",
        lit(0.5) * (col("c2").cast("double") / col("cdot").cast("double")) +
        lit(0.5) * ((col("c1") + 1).cast("double") /
          (col("n_total") + col("v_size")).cast("double")))
      .withColumn("lp", round(log10(col("p")), 9).cast("decimal(28,9)"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("slp"))
      .withColumn("lm_bigram_score",
        round(-col("slp").cast("double") / col("n_bigrams").cast("double"), 6))
      .select(col(idCol), col("n_bigrams"), col("lm_bigram_score"))
  }

  /** Polynomial rolling-hash fingerprint over Unicode CODE POINTS
    * (Karp-Rabin style): order-sensitive, so re-orderings fingerprint
    * differently; stable across engines (pure integer arithmetic).
    *
    * Cross-engine parity is full-Unicode, not ASCII-only: Spark 4's
    * `split(text, "")` yields one element per code point (surrogate
    * pairs stay together) and `ascii()` returns the full code point
    * (é→233, 😀→128512, 中→20013, combining U+0301→769 — verified
    * against this Spark build), matching DuckDB's
    * `string_split(text, '')` + `unicode(c)` element for element.
    * TextAnalysisSpec pins these values so an engine upgrade that
    * regresses either side fails loudly.
    */
  def fingerprint(text: Column): Column =
    aggregate(split(text, ""), lit(0L),
      (acc, ch) => pmod(acc * lit(31L) + ascii(ch).cast("long"), lit(1000000007L)))
}
