package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis._
import graft.sources.Tables

/** Text-analysis query surface over `documents` (north-star extension:
  * token counting, quality scoring, language ID, fingerprinting), each
  * with a DuckDB oracle re-expressing the same deterministic arithmetic.
  */
object TextQueries {

  /** Content stamp of the corpus the L* memo is built on — shared with
    * [[graft.TmpSweep]], which judges a `graft_ldup_*` dir by it.
    */
  private[graft] def ldupContentStamp(s: SparkSession, d: String): String =
    BuiltOnce.contentStamp(Tables.documents(s, d),
      Seq(col("doc_id"), col("text")))

  /** The longest-duplicate length L* of `d`'s documents in
    * [minLen, maxLen], searched once per (path, content, range) as a
    * [[BuiltOnce]] artifact: `graft_ldup_<dirKey>_<minLen>_<maxLen>`
    * holds one `lstar` value file (a length or `none`). L* is a property
    * of the corpus, so `text_longest_dup` and its `_bound` companion
    * share ONE ~⌈log₂ range⌉-probe search instead of each re-running it,
    * and a fresh JVM over an unchanged corpus prices stamp + census
    * instead of the cold search (4.2 s vs 38.8 s at sf10,
    * `bench_longest_dup_diskhit_sf10.json` /
    * `bench_longest_dup_cold_sf10.json`). The memo changes no result:
    * both queries re-run the oracle-validated census at L* every call.
    *
    * The value file is an optimization, the search is the truth: a
    * value file that cannot be written (the search's answer stands, the
    * artifact stays unstamped) or read — missing, torn, foreign or
    * Int-overflowing — re-searches and never crashes or serves a wrong
    * length.
    */
  private def longestDupLenMemo(s: SparkSession, d: String,
      minLen: Int, maxLen: Int): Option[Int] = {
    val docs = Tables.documents(s, d)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ldup_" +
      s"${BuiltOnce.dirKey(d)}_${minLen}_$maxLen"
    val file = new org.apache.hadoop.fs.Path(dir, "lstar")
    val fs = file.getFileSystem(s.sparkContext.hadoopConfiguration)
    def search() = graft.operators.SubstringDedup.longestDupLen(docs, minLen, maxLen)
    var searched: Option[Option[Int]] = None
    try BuiltOnce(dir, docs, Seq(col("doc_id"), col("text"))) {
      searched = Some(search())
      BuiltOnce.writeFully(fs, file, searched.get.fold("none")(_.toString))
    } catch { case scala.util.control.NonFatal(_) if searched.isDefined => () }
    // the length bound keeps toInt total (engine-written values are
    // small search lengths)
    def read: Option[Option[Int]] =
      try BuiltOnce.readFully(fs, file).trim match {
        case "none" => Some(None)
        case n if n.nonEmpty && n.length <= 9 && n.forall(_.isDigit) =>
          Some(Some(n.toInt))
        case _ => None
      } catch { case scala.util.control.NonFatal(_) => None }
    searched.orElse(read).getOrElse(search())
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // all quality signals from ONE string pass per row ([[withFeatures]]
    // Generate barrier); only the BPE-ish subword regex stays separate
    "text_stats" -> ((s, d) => {
      val f = col("f")
      withFeatures(Tables.documents(s, d), "text").select(
        col("doc_id"),
        f.getField("n_tokens").as("n_tokens"),
        subwordCount(col("text")).as("n_subwords"),
        round(punctRatioFrom(f), 6).as("punct_ratio"),
        round(stopwordRatioFrom(f), 6).as("stopword_ratio"),
        round(meanTokenLenFrom(f), 6).as("mean_token_len"),
        f.getField("quality").as("quality"))
        .orderBy("doc_id")}),

    "text_langid" -> ((s, d) =>
      langIdAgg(Tables.documents(s, d), "text", Seq("doc_id", "lang"))
        .groupBy("lang", "lang_guess")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_guess")),

    // lexical diversity: type-token ratio per doc (distinct / total
    // lowercased tokens — low TTR is another boilerplate signal)
    "text_ttr" -> ((s, d) => {
      import graft.operators.TextAnalysis.tokens
      Tables.documents(s, d).select(
        col("doc_id"),
        round(size(array_distinct(tokens(lower(col("text"))))).cast("double") /
          greatest(size(tokens(col("text"))), lit(1)).cast("double"), 6).as("ttr"))
        .orderBy("doc_id")}),

    // within-doc 3-gram repetition (boilerplate/generated-text signal)
    "text_repetition" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        repetitionRatio(col("text")).as("rep_ratio"))
        .orderBy("doc_id")),

    // corpus quality histogram: docs per 0.1-wide quality bucket
    "text_quality_histogram" -> ((s, d) =>
      withFeatures(Tables.documents(s, d), "text")
        .withColumn("bucket",
          least(floor(col("f.quality") * 10).cast("int"), lit(9)))
        .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
        .orderBy("bucket")),

    "text_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // exact substring-duplication census at L=40 chars (the
    // character-level Lee-et-al. signal): every 40-char string occurring
    // >= 2 times corpus-wide, overlaps and intra-doc repeats included.
    // Rolling-hash pre-filter, value-verified grouping; the oracle
    // replays it by brute-force substr explosion — the hash machinery
    // may only ever agree with literal substring equality
    "text_dup_substrings" -> ((s, d) =>
      graft.operators.SubstringDedup.gramCensus(Tables.documents(s, d), 40)
        .orderBy("gram")),

    // the deduplicate-before-training TRANSFORM (Lee et al. 2022 §4):
    // every 40-char gram occurring >= 2 times corpus-wide is cut from
    // every document except its corpus-first occurrence, overlapping
    // cuts merged — the census's actionable counterpart. Fully
    // declarative (value windows, gaps-and-islands merge, lead-based
    // complement segments, in-order concat), so the oracle replays the
    // ENTIRE rewrite and the output text hash-matches byte for byte
    "text_remove_dup_spans" -> ((s, d) =>
      graft.operators.SubstringDedup.removeDupSpans(Tables.documents(s, d), 40)
        .orderBy("doc_id")),

    // corpus-level reduction of the same rewrite: one row with the
    // number of documents the rewrite changes and the characters it
    // removes, the summary a mix engineer reads before applying it
    "text_remove_dup_spans_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        col("text").as("orig"))
      val rw = graft.operators.SubstringDedup
        .removeDupSpans(Tables.documents(s, d), 40)
      docs.join(rw, "doc_id")
        .select((length(coalesce(col("orig"), lit(""))) -
          length(coalesce(col("text"), lit("")))).as("removed"))
        .agg(count(when(col("removed") > 0, lit(1))).as("n_docs_changed"),
          sum(col("removed")).cast("long").as("chars_removed"))}),

    // Gopher-style quality rule census (Rae et al. 2021 A1.1, the
    // doc-level subset): per-rule failure counts + the all-pass count,
    // one row — the go/no-go report a mix engineer reads before
    // applying the gate. Every rule is integer/regex arithmetic both
    // engines replay exactly; NULL text counts as failing every rule
    "text_gopher_rules" -> ((s, d) => {
      val rules = Seq("g_word_count", "g_mean_word_len", "g_symbol_ratio",
        "g_alpha_words", "g_stopwords")
      val f = withGopherFlags(Tables.documents(s, d), "text")
      val failCols = rules.map(r =>
        count(when(!coalesce(col(r), lit(false)), lit(1)))
          .as("fail" + r.stripPrefix("g")))
      val allPass = count(when(
        rules.map(r => coalesce(col(r), lit(false))).reduce(_ && _),
        lit(1))).as("n_all_pass")
      f.agg(count(lit(1)).as("n_docs"), failCols :+ allPass: _*)}),

    // longest duplicated substring in the corpus: binary search on the
    // census existence bit (rows-only; text_dup_substrings carries the
    // oracle for the census machinery and the _bound row pins
    // maximality). The search length is memoized per corpus content
    // (longestDupLenMemo); the returned census always re-runs
    "text_longest_dup" -> ((s, d) =>
      longestDupLenMemo(s, d, minLen = 8, maxLen = 600) match {
        case None =>
          graft.operators.SubstringDedup.emptyLongestDupFrame(s)
        case Some(l) =>
          graft.operators.SubstringDedup.gramCensus(Tables.documents(s, d), l)
            .select(lit(l).as("len"), col("gram"), col("n_docs"), col("n_occ"))
            .orderBy("gram")
      }),

    // winnowing fingerprint overlap (Schleimer et al. 2003, the MOSS
    // selection): doc pairs sharing >= 8 selected g=16/w=8 fingerprints
    // (g=8/w=4 matched every pair of docs sharing stock short phrases —
    // 103k pairs at sf0.01; rarer 16-char grams + a deeper overlap bar
    // keep the report to genuinely duplicated passages).
    // Selection is the narrow native winnow() pass; the pair search is
    // an equi-join on the fingerprint hash. Mod-arithmetic hashing is
    // deliberately SQL-replayable, so the oracle re-runs the ENTIRE
    // pipeline — gram hashes, window minima with rightmost ties,
    // dedupe, stop-fingerprint cap, pair counts — from first
    // principles. dfCap=48 is the hot-bucket guard (MOSS's discard of
    // boilerplate fingerprints): without it a fingerprint in d docs
    // emits d² join rows and the closed-vocabulary corpus measured
    // 80.7× wall-clock for 10× data sf0.1→sf1; with it per-bucket
    // fan-out is ≤ 48² at every SF. At the correctness SF the corpus's
    // max fingerprint df is 34, so the capped report equals the exact
    // one — the cap only bites where it must
    "text_winnow_pairs" -> ((s, d) =>
      graft.operators.SubstringDedup.winnowedPairs(Tables.documents(s, d),
        gram = 16, window = 8, minShared = 8, dfCap = Some(48))
        .orderBy("doc_a", "doc_b")),

    // exact-form oracle companion (the dedup_cosine_pairs/_capped
    // pattern, roles reversed: here the CAPPED form is the production
    // query): full-fingerprint pair search, quadratic in hot buckets
    // BY NATURE — skipped in decade bench runs where the fixed
    // vocabulary saturates (skip recorded in the bench JSON)
    "text_winnow_pairs_exact" -> ((s, d) =>
      graft.operators.SubstringDedup.winnowedPairs(Tables.documents(s, d),
        gram = 16, window = 8, minShared = 8)
        .orderBy("doc_a", "doc_b")),

    // MAXIMALITY violation row for text_longest_dup: re-running the
    // (oracle-validated) census one char LONGER than the claimed L*
    // must find nothing — any row here is a duplicated substring the
    // binary search missed. The oracle asserts the empty set
    "text_longest_dup_bound" -> ((s, d) =>
      longestDupLenMemo(s, d, minLen = 8, maxLen = 600) match {
        case None =>
          // no duplicate at even minLen: nothing claimed, nothing to check
          val s2 = s
          import s2.implicits._
          Seq.empty[(Int, String)].toDF("len", "gram")
        case Some(l) =>
          graft.operators.SubstringDedup.gramCensus(
              Tables.documents(s, d), l + 1)
            .select(lit(l + 1).as("len"), col("gram"))
            .orderBy("gram")
      }),

    // the composed LLM-data pipeline: exact-dedup → quality gate →
    // language gate → deterministic subsample → per-lang token budget
    "pipe_clean_corpus" -> ((s, d) => {
      val deduped = graft.operators.Dedup.dropExact(
        Tables.documents(s, d), "text", "doc_id")
      // one feature pass feeds the quality gate, the language gate AND
      // both aggregates (quality re-used as `q`, en-marker hits as the
      // langScore(_, "en") count, n_tokens as the token budget)
      val gated = withFeatures(deduped, "text",
          markers = langMarkers("en"))
        .withColumn("q", col("f.quality"))
        .filter(col("q") >= 0.5)
        .withColumn("lang_guess",
          when(col("f.n_markers") > 0, "en").otherwise("other"))
        .filter(col("lang_guess") === "en")
      val sampled = graft.operators.Sampling.systematicSample(
        gated, col("doc_id"), numerator = 3, denominator = 4)
      sampled.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("f.n_tokens")).as("token_budget"),
          round(sum(col("q")) / count(lit(1)), 6).as("mean_quality"))
        .orderBy("lang")}),

    // benchmark decontamination: corpus docs sharing verbatim n-gram
    // spans with a (here: corpus-sampled) benchmark set — broadcast
    // bench side, zero corpus shuffle before the aggregate. n=4 instead
    // of the production-standard 8+ because the synthetic vocabulary is
    // tiny; the operator is n-agnostic
    "text_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      graft.operators.Decontaminate.overlaps(
        docs, "text", "doc_id", bench, "text", "doc_id", n = 4,
        excludeSelfPairs = true) // bench IS a corpus sample here
        .orderBy("doc_id", "bench_id")}),

    // sequence packing: docs → 2048-token training bins via the
    // two-phase distributed prefix scan (never a one-task global window)
    "pipe_pack_sequences" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), tokenCount(col("text")).as("tok"))
      graft.operators.Packing.packByBudget(docs, "doc_id", "tok", budget = 2048)
        .groupBy("seq_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
        .orderBy("seq_id")}),

    // deterministic stratified subsample: census by (lang, kept)
    "text_sample_stratified" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val kept = graft.operators.Sampling.stratifiedSystematic(
        docs, col("lang"), col("doc_id"),
        Map("en" -> (1, 2), "de" -> (1, 4), "fr" -> (1, 4),
          "es" -> (1, 10), "zh" -> (1, 10)))
      kept.groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")}),

    // corpus-level quality report: per-source doc counts + mean quality
    "text_quality_by_source" -> ((s, d) =>
      withFeatures(Tables.documents(s, d), "text")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("f.quality")) / count(lit(1)), 6).as("mean_quality"),
          sum(col("f.n_tokens")).as("total_tokens"))
        .orderBy("source")),

    // source-mixture construction: per-source keep rates (the
    // pretraining "data mixing" stage) applied as deterministic
    // systematic sampling, with token accounting and each source's share
    // of the mixed corpus — replay-stable (pure function of the data,
    // no RNG), so retries and re-partitioning build the identical mix.
    // Systematic-sampling caveat made concrete: the key must be uniform
    // WITHIN each stratum — raw doc_id cycles through the 20 sources
    // (source = src{doc_id % 20}), so doc_id parity IS source parity and
    // sampling on it keeps or kills whole sources; the per-cycle index
    // doc_id div 20 decorrelates
    "pipe_mix_sources" -> ((s, d) => {
      val rates = (0 until 20).map(i =>
        s"src$i" -> (if (i % 2 == 0) (1, 2) else (1, 4))).toMap
      val mixed = graft.operators.Sampling.stratifiedSystematic(
        Tables.documents(s, d), col("source"), expr("doc_id div 20"),
        rates)
        .withColumn("tok", tokenCount(col("text")))
      val perSource = mixed.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"))
      // the grand total comes from a window over the 20-row aggregate —
      // NOT a second mixed.agg(...): DataFrame plans don't share common
      // subtrees, so a separate total would re-scan and re-tokenize the
      // whole corpus
      // constant partition key: the window runs over the bounded 20-row
      // aggregate, so it is correct and scale-safe — lit(1) only silences
      // WindowExec's single-partition warning in bench logs
      val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      perSource
        .withColumn("total_tokens", sum(col("tokens")).over(w))
        .select(col("source"), col("n_docs"), col("tokens"),
          round(col("tokens").cast("double") / col("total_tokens"), 6)
            .as("mix_share"))
        .orderBy("source")}),

    // α=0.5 temperature-scaled mixing: unlike pipe_mix_sources (rates
    // handed in by the caller), the keep rates are DERIVED from corpus
    // statistics — √(min_tokens/source_tokens), the "sample ∝ n^α"
    // upweighting of small sources — in a stats pass whose O(sources)
    // result broadcasts into the keep filter. Every cross-engine value
    // is an integer sum/min or one IEEE sqrt/div of integers, so the
    // kept row SET (not just the aggregates) replays exactly
    "pipe_mix_temperature" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("tok", tokenCount(col("text")))
      val mixed = graft.operators.Sampling.temperatureMix(
        docs, col("source"), col("tok"), expr("doc_id div 20"), cycle = 20)
      val per = mixed.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"),
          min(col("rate")).as("rate"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      per.withColumn("total_tokens", sum(col("tokens")).over(w))
        .select(col("source"), col("n_docs"), col("tokens"),
          round(col("rate"), 6).as("keep_rate"),
          round(col("tokens").cast("double") / col("total_tokens"), 6)
            .as("mix_share"))
        .orderBy("source")}),

    // PII scrubbing: email/phone redaction over a deterministically
    // PII-augmented corpus (the raw corpus is synthetic word soup, so
    // the PII is injected in-query from doc_id — both engines build and
    // scrub the identical strings). regexp_replace is all-occurrence in
    // both engines; counts come from the pre-scrub match count
    "text_scrub" -> ((s, d) => {
      import graft.operators.TextAnalysis.{EmailPattern, PhonePattern}
      val aug = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com now or call +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
          .as("text"))
      aug.select(col("doc_id"),
          scrubPii(col("text")).as("scrubbed"),
          (regexp_count(col("text"), lit(EmailPattern)) +
            regexp_count(col("text"), lit(PhonePattern))).cast("long")
            .as("n_pii"))
        .orderBy("doc_id")}),

    // filter-cascade census: every doc attributed to the FIRST gate that
    // rejects it (length → quality → language), survivors under "kept" —
    // the observability row a mix engineer reads before touching weights.
    // One feature pass feeds the quality and language gates
    "pipe_filter_funnel" -> ((s, d) => {
      val fed = withFeatures(Tables.documents(s, d), "text",
        markers = langMarkers("en"))
      graft.operators.Funnel.census(fed, Seq(
        "minlen" -> (col("n_chars") >= 80),
        "quality" -> (col("f.quality") >= 0.4),
        "lang" -> (col("f.n_markers") > 0)))}),

    // inverted-index rarity statistics: per doc, its distinct-term count,
    // the sum of corpus document-frequencies of its terms, and its rarest
    // term (min df, ties to the lexicographically first term via one
    // struct-min — no second pass). Two-phase shape: df table from one
    // explode+agg, joined back on term. Integer/string outputs only →
    // hash-exact across engines
    "text_rarity" -> ((s, d) => {
      val docTerms = Tables.documents(s, d).select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("term"))
      val dfreq = docTerms.groupBy("term").agg(count(lit(1)).as("df"))
      docTerms.join(dfreq, "term")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          sum(col("df")).as("sum_df"),
          min(struct(col("df"), col("term"))).as("r"))
        .select(col("doc_id"), col("n_terms"), col("sum_df"),
          col("r.df").as("rarest_df"), col("r.term").as("rarest_term"))
        .orderBy("doc_id")}),

    // corpus vocabulary head: explode (generator) → count → global top-k.
    // Map-side partial aggregation collapses each partition's term counts
    // before the shuffle, and the final top-k is a TakeOrdered over the
    // (small) distinct-term aggregate — no global sort of the corpus
    // deflate-compressibility signal (no SQL oracle — zlib isn't
    // exposed by DuckDB; ground truth in TextAnalysisSpec): per-source
    // document counts and mean compression ratio. Low ratio = highly
    // repetitive/boilerplate source; near-1 = high-entropy noise
    "text_compress_ratio" -> ((s, d) =>
      graft.operators.TextAnalysis.withCompressionRatio(
        Tables.documents(s, d).select(col("doc_id"), col("source"), col("text")),
        "text")
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          round(avg(col("compress_ratio")), 4).as("mean_ratio"))
        .orderBy("source")),

    // ORACLE COMPANION for text_compress_ratio (the violation-set move):
    // deflate's 32 KB back-reference window covers every corpus doc, so
    // compressing text||text must cost at most the single-copy bytes
    // plus a small constant (the second copy is one long match). A
    // deflater regression or a ratio-arithmetic bug breaks the
    // inequality; the oracle asserts the empty set
    "text_compress_doubling" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val single = graft.operators.TextAnalysis.withCompressionRatio(
        docs, "text").select(col("doc_id"),
          round(col("compress_ratio") * length(col("text"))).cast("long")
            .as("c1"))
      val doubled = graft.operators.TextAnalysis.withCompressionRatio(
        docs.select(col("doc_id"),
          concat(col("text"), col("text")).as("text")), "text")
        .select(col("doc_id"),
          round(col("compress_ratio") * length(col("text"))).cast("long")
            .as("c2"))
      single.join(doubled, "doc_id")
        .filter(col("c2") > col("c1") + 50)
        .orderBy("doc_id")}),

    "text_top_terms" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(split(trim(col("text")), "\\s+")).as("term"))
        .filter(length(col("term")) >= 3)
        .groupBy("term")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("term"))
        .limit(25)),

    // add-one-smoothed unigram LM surprisal (CCNet-style statistical
    // quality): model = corpus token frequencies, score = mean
    // −log10 p(tok). Per-token log-probs rounded then decimal-summed →
    // bit-stable at any parallelism, oracle-checked end to end. The
    // exploded token table (the heaviest pass — larger than the corpus)
    // is persisted so tokenize+explode runs once across model build,
    // totals, and score join; the result is returned LAZILY (the
    // caller's action reads through the cache) — an eager
    // localCheckpoint here would re-add a full extra job (measured
    // +0.4 s at sf0.1, DevLm) for no correctness gain
    "text_lm_score" -> ((s, d) =>
      lmScore(Tables.documents(s, d), "text", "doc_id").orderBy("doc_id")),

    // interpolated bigram LM (Jelinek–Mercer λ=½ over MLE bigram +
    // add-one unigram): mean −log10 p per doc over its interior
    // bigrams — one model order above text_lm_score, same
    // rounded-log/decimal-sum engine-parity recipe; the bigram explode
    // runs once (the text_lm_score move)
    "text_lm_bigram" -> ((s, d) =>
      lmBigramScore(Tables.documents(s, d), "text", "doc_id")
        .orderBy("doc_id")),

    // TRAINED quality classifier (the fastText-style distillation every
    // corpus pipeline runs: fit a cheap model to the heuristic/LLM
    // quality labels, then score everything with it): logistic
    // regression on hashed unigram counts, 12 deterministic momentum-GD
    // iterations each over a rotating 1/4 HASH SLICE of the 80% train
    // split (fixed-point long gradient sums — bit-reproducible at any
    // parallelism; a final full-pass loss check guards the sampling).
    // Mini-batching cut the dominant cost — full corpus passes — ~2.5×
    // at sf10 while measuring equal-or-better holdout accuracy than 10
    // full-batch passes (0.974 vs 0.966 at sf0.1). Output is
    // train+holdout accuracy as the VIOLATION set (accuracy < 0.85;
    // measured ~0.97 at both gate SFs), so the oracle asserts the empty
    // set — DuckDB cannot replay training, and the floor property is
    // what SQL can express (the sim_lsh_recall move)
    "text_train_classifier" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // label through the single-pass features struct: the text-column
      // qualityScore re-parses the doc per component ratio (measured
      // 25.6 s over 500k sf10 docs vs ~2 s through the struct), and
      // qualityScoreFrom is the same IEEE ops over bit-identical counts
      val labeled = graft.operators.TextAnalysis
        .withFeatures(docs, "text")
        .select(col("doc_id"), col("text"),
          (graft.operators.TextAnalysis.qualityScoreFrom(col("f")) >= 0.7)
            .cast("int").as("y"),
          when(pmod(xxhash64(col("doc_id")), lit(10)) < 8, "train")
            .otherwise("holdout").as("split"))
      val model = graft.operators.QualityClassifier.train(
        labeled.filter(col("split") === "train"), "text", "y",
        graft.operators.QualityClassifier.TrainConfig(
          iters = 12, batchInv = 4))
      labeled
        .withColumn("pred",
          graft.operators.QualityClassifier.prediction(col("text"), model))
        .groupBy("split")
        .agg(count(lit(1)).as("n"),
          sum((col("pred") === col("y")).cast("long")).as("n_correct"))
        .withColumn("acc",
          round(col("n_correct").cast("double") / col("n").cast("double"), 4))
        .filter(col("acc") < 0.85)
        .orderBy("split")}),

    // corpus-level n-gram diversity per source (the templated-text
    // detector a mixing loop reads; complements per-doc text_repetition)
    "text_ngram_diversity" -> ((s, d) =>
      graft.operators.MixtureStats.ngramDiversity(
        Tables.documents(s, d), "text", "source")),

    // per-source KL(p_source ‖ p_corpus) over unigrams — the
    // distance-from-the-mixture signal behind DoReMi-style reweighting
    "text_kl_mixture" -> ((s, d) =>
      graft.operators.MixtureStats.klFromMixture(
        Tables.documents(s, d), "text", "source"))
  )

  private val swList = stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  private def markers(l: String) =
    langMarkers(l).map(s => s"'$s'").mkString("[", ", ", "]")

  private val statsExprs =
    s"""  len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       |  len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS n_subwords,
       |  round(len(regexp_extract_all(text, '[^A-Za-z0-9_\\s]'))::DOUBLE
       |        / greatest(length(text), 1), 6) AS punct_ratio,
       |  round(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |            t -> list_contains($swList, t)))::DOUBLE
       |        / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS stopword_ratio,
       |  round(length(regexp_replace(trim(text), '\\s+', '', 'g'))::DOUBLE
       |        / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS mean_token_len""".stripMargin

  private[queries] val qualityExpr =
    """round(least(len(string_split_regex(trim(text), '\s+')) / 64.0, 1.0) * 0.5
      |  + (1.0 - least(len(regexp_extract_all(text, '[^A-Za-z0-9_\s]'))::DOUBLE
      |                 / greatest(length(text), 1) * 4.0, 1.0)) * 0.25
      |  + least(len(list_filter(string_split_regex(trim(text), '\s+'),
      |              t -> list_contains(SWLIST, t)))::DOUBLE
      |          / greatest(len(string_split_regex(trim(text), '\s+')), 1) * 5.0, 1.0) * 0.25,
      |  6)""".stripMargin.replace("SWLIST", swList)

  private val langScoreExprs = langMarkers.keys.toSeq.sorted.map { l =>
    s"""len(list_filter(string_split_regex(trim(text), '\\s+'),
       |    t -> list_contains(${markers(l)}, lower(t)))) AS s_$l""".stripMargin
  }.mkString(",\n")

  /** First-principles DuckDB replay of the full winnowing pipeline
    * (g=16, w=8, minShared=8): per-window fold hashes, sliding minima
    * with rightmost tie-break, per-doc dedupe, and — when `dfCap` is
    * set — the stop-fingerprint removal (HAVING count(*) <= cap on
    * fingerprint document frequency), then hash-bucket pair counts.
    * One template, two registered oracles (capped production form,
    * exact companion).
    */
  private def winnowPairsSql(dfCap: Option[Int]): String = {
    val capCtes = dfCap.fold("") { c =>
      s""", fpk AS (
         |  SELECT hv FROM fp GROUP BY hv HAVING count(*) <= $c
         |), fpc AS (
         |  SELECT f.doc_id, f.hv FROM fp f JOIN fpk USING (hv)
         |)""".stripMargin
    }
    val pairSrc = dfCap.fold("fp")(_ => "fpc")
    s"""WITH hs AS (
       |  SELECT doc_id,
       |    list_transform(range(1, len(text) - 14), i ->
       |      list_reduce([0] || list_transform(range(CAST(i AS INT), CAST(i + 16 AS INT)),
       |                    j -> unicode(substr(text, CAST(j AS INT), 1))::BIGINT),
       |                  (a, b) -> (a * 31 + b) % 1000000007)) AS h
       |  FROM documents WHERE len(text) >= 16
       |), grams AS (
       |  SELECT doc_id, CAST(ii.i AS INT) AS pos, h[CAST(ii.i AS INT)] AS hv,
       |         len(h) AS m
       |  FROM hs, LATERAL (SELECT unnest(range(1, len(h) + 1)) AS i) ii
       |), winsel AS (
       |  SELECT doc_id, j, pos, hv,
       |    row_number() OVER (PARTITION BY doc_id, j
       |                       ORDER BY hv ASC, pos DESC) AS rk
       |  FROM (
       |    SELECT g.doc_id, CAST(w.j AS INT) AS j, g.pos, g.hv
       |    FROM grams g, LATERAL (
       |      SELECT unnest(range(GREATEST(g.pos - 7, 1),
       |                          LEAST(g.pos, g.m - 7) + 1)) AS j) w
       |    WHERE g.m >= 8)
       |), shortsel AS (
       |  SELECT doc_id, pos, hv,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY hv ASC, pos DESC) AS rk
       |  FROM grams WHERE m < 8
       |), fp AS (
       |  SELECT DISTINCT doc_id, hv FROM winsel WHERE rk = 1
       |  UNION
       |  SELECT DISTINCT doc_id, hv FROM shortsel WHERE rk = 1
       |)$capCtes
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(count(*) AS BIGINT) AS shared
       |FROM $pairSrc a JOIN $pairSrc b ON a.hv = b.hv AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 8 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** First-principles DuckDB replay of the dedup rewrite (shared by the
    * full-text and aggregate forms): brute-force gram explosion, value
    * windows for the canonical pick, gaps-and-islands merge, lead
    * complements, ordered string_agg.
    */
  private def removeDupSpansSql(stats: Boolean): String = {
    val ctes = """WITH occ AS (
      |  SELECT doc_id AS doc, CAST(ii.i AS INT) - 1 AS pos,
      |         substr(text, CAST(ii.i AS INT), 40) AS gram
      |  FROM documents,
      |  LATERAL (SELECT unnest(range(1, GREATEST(len(text) - 38, 1))) AS i) ii
      |  WHERE len(text) >= 40
      |), marked AS (
      |  SELECT doc, pos,
      |    count(*) OVER (PARTITION BY gram) AS n,
      |    row_number() OVER (PARTITION BY gram ORDER BY doc, pos) AS rn
      |  FROM occ
      |), spans0 AS (
      |  SELECT doc, pos AS s0, pos + 40 AS e0 FROM marked
      |  WHERE n > 1 AND rn > 1
      |), isl AS (
      |  SELECT doc, s0, e0,
      |    CASE WHEN s0 > coalesce(max(e0) OVER (PARTITION BY doc
      |           ORDER BY s0, e0
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |         THEN 1 ELSE 0 END AS fresh
      |  FROM spans0
      |), isl2 AS (
      |  SELECT doc, s0, e0,
      |    sum(fresh) OVER (PARTITION BY doc ORDER BY s0, e0
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM isl
      |), merged AS (
      |  SELECT doc, min(s0) AS s, max(e0) AS e FROM isl2
      |  GROUP BY doc, island
      |), seg AS (
      |  SELECT doc, 0 AS k_start, min(s) AS k_end FROM merged GROUP BY doc
      |  UNION ALL
      |  SELECT m.doc, m.e AS k_start,
      |    coalesce(lead(m.s) OVER (PARTITION BY m.doc ORDER BY m.s),
      |             len(d.text)) AS k_end
      |  FROM merged m JOIN documents d ON d.doc_id = m.doc
      |), rebuilt AS (
      |  SELECT s.doc,
      |    string_agg(substr(d.text, s.k_start + 1, s.k_end - s.k_start),
      |               '' ORDER BY s.k_start) AS nt
      |  FROM seg s JOIN documents d ON d.doc_id = s.doc
      |  WHERE s.k_end > s.k_start
      |  GROUP BY s.doc
      |), fin AS (
      |  SELECT d.doc_id,
      |    CASE WHEN m.doc IS NOT NULL THEN coalesce(r.nt, '')
      |         ELSE d.text END AS text,
      |    d.text AS orig
      |  FROM documents d
      |  LEFT JOIN (SELECT DISTINCT doc FROM merged) m ON m.doc = d.doc_id
      |  LEFT JOIN rebuilt r ON r.doc = d.doc_id
      |)""".stripMargin
    val tail =
      if (stats)
        """
        |SELECT CAST(count(CASE WHEN len(coalesce(orig, '')) -
        |                            len(coalesce(text, '')) > 0
        |                       THEN 1 END) AS BIGINT) AS n_docs_changed,
        |  CAST(sum(len(coalesce(orig, '')) - len(coalesce(text, '')))
        |       AS BIGINT) AS chars_removed
        |FROM fin""".stripMargin
      else
        """
        |SELECT doc_id, text FROM fin ORDER BY doc_id""".stripMargin
    ctes + tail
  }

  def oracleSql: Map[String, String] = Map(
    // property oracle: the expected violation set is EMPTY (training is
    // not SQL-replayable; the accuracy floor is the assertable property)
    "text_train_classifier" ->
      """SELECT CAST(NULL AS VARCHAR) AS split, CAST(NULL AS BIGINT) AS n,
        |  CAST(NULL AS BIGINT) AS n_correct, CAST(NULL AS DOUBLE) AS acc
        |WHERE 1=0""".stripMargin,
    // property oracle: the expected violation set is EMPTY (DuckDB has
    // no zlib to replay the byte counts; the doubling inequality is the
    // SQL-assertable property — same move as sim_lsh_recall)
    "text_compress_doubling" ->
      """SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS c1,
        |  CAST(NULL AS BIGINT) AS c2 WHERE 1=0""".stripMargin,
    // same per-token round-then-decimal-sum discipline as the engine:
    // log10 may differ in the last ulp across libm builds, so each lp is
    // rounded to 9 dp BEFORE the (exact, order-free) decimal sum
    "text_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM documents
        |), model AS (
        |  SELECT tok, count(*) AS c FROM toks GROUP BY tok
        |), tot AS (
        |  SELECT sum(c) AS n_total, count(*) AS v_size FROM model
        |), scored AS (
        |  SELECT t.doc_id,
        |    CAST(round(log10((m.c + 1)::DOUBLE / (n_total + v_size)::DOUBLE), 9)
        |         AS DECIMAL(28,9)) AS lp
        |  FROM toks t JOIN model m USING (tok) CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(-(sum(lp)::DOUBLE) / count(*), 6) AS lm_score
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same structure as the Spark side: bigrams from a per-doc list
    // comprehension, integer count models, interpolated p in double,
    // per-bigram log10 rounded to 9 and summed as DECIMAL(28,9)
    "text_lm_bigram" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS ts
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, unnest(
        |    [{'prev': ts[i-1], 'tok': ts[i]}
        |     for i in generate_series(2, len(ts))], recursive := true)
        |  FROM docs WHERE len(ts) >= 2
        |), toks AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM documents
        |), uni AS (
        |  SELECT tok, count(*) AS c1 FROM toks GROUP BY tok
        |), tot AS (
        |  SELECT sum(c1) AS n_total, count(*) AS v_size FROM uni
        |), bm AS (
        |  SELECT prev, tok, count(*) AS c2 FROM bg GROUP BY prev, tok
        |), ctx AS (
        |  SELECT prev, sum(c2) AS cdot FROM bm GROUP BY prev
        |), scored AS (
        |  SELECT b.doc_id,
        |    CAST(round(log10(
        |      0.5 * (m.c2::DOUBLE / c.cdot::DOUBLE) +
        |      0.5 * ((u.c1 + 1)::DOUBLE / (t.n_total + t.v_size)::DOUBLE)), 9)
        |      AS DECIMAL(28,9)) AS lp
        |  FROM bg b JOIN bm m USING (prev, tok) JOIN ctx c USING (prev)
        |    JOIN uni u USING (tok) CROSS JOIN tot t)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(-(sum(lp)::DOUBLE) / count(*), 6) AS lm_bigram_score
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_stats" ->
      s"""SELECT doc_id,
         |$statsExprs,
         |  $qualityExpr AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""WITH scored AS (
         |  SELECT lang, $langScoreExprs
         |  FROM documents
         |), best AS (
         |  SELECT lang,
         |    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
         |         WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
         |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
         |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
         |         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
         |         ELSE 'zh' END AS lang_guess
         |  FROM scored)
         |SELECT lang, lang_guess, count(*) AS n
         |FROM best GROUP BY lang, lang_guess ORDER BY lang, lang_guess""".stripMargin,
    "text_ttr" ->
      """SELECT doc_id,
        |  round(len(list_distinct(string_split_regex(trim(lower(text)), '\s+')))::DOUBLE
        |        / greatest(len(string_split_regex(trim(text), '\s+')), 1), 6) AS ttr
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    greatest(len(string_split_regex(trim(text), '\s+')) - 2, 0) AS total,
        |    CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 3 THEN
        |      len(list_distinct([
        |        string_split_regex(trim(text), '\s+')[i] || ' ' ||
        |        string_split_regex(trim(text), '\s+')[i+1] || ' ' ||
        |        string_split_regex(trim(text), '\s+')[i+2]
        |        for i in range(1, len(string_split_regex(trim(text), '\s+')) - 1)]))
        |    ELSE 0 END AS dst
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN total > 0
        |       THEN round((total - dst)::DOUBLE / total, 6) ELSE 0.0 END AS rep_ratio
        |FROM t ORDER BY doc_id""".stripMargin,
    "text_quality_histogram" ->
      s"""SELECT least(CAST(floor($qualityExpr * 10) AS INT), 9) AS bucket,
         |       count(*) AS n_docs
         |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce([0] || list_transform(string_split(text, ''), c -> unicode(c)::BIGINT),
        |              (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // brute-force replay of the rolling-hash census: explode every
    // 40-char window (code-point indexed, matching rolling_hashes and
    // Spark substring) and group by the literal string
    "text_dup_substrings" ->
      """WITH g AS (
        |  SELECT doc_id, substr(text, CAST(i AS INT), 40) AS gram
        |  FROM documents,
        |       LATERAL (SELECT unnest(range(1, GREATEST(len(text) - 38, 1))) AS i)
        |)
        |SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_occ
        |FROM g GROUP BY gram HAVING count(*) > 1 ORDER BY gram""".stripMargin,
    // maximality property: the expected answer is the EMPTY set (see
    // the query comment; SQL cannot replay the binary search itself)
    "text_longest_dup_bound" ->
      "SELECT CAST(NULL AS INT) AS len, CAST(NULL AS VARCHAR) AS gram WHERE 1=0",
    // first-principles replay of winnowing: per-window g-gram fold
    // hashes (the fingerprint arithmetic), sliding-window minima with
    // rightmost tie-break, per-doc dedupe, stop-fingerprint df cap,
    // hash-bucket pair counts
    // replays the five doc-level Gopher rules: token split, integer
    // length sum / count, literal '#' + '...' censuses via replace
    // deltas, alpha-regex word filter, distinct-stopword membership
    "text_gopher_rules" ->
      """WITH t AS (
        |  SELECT text, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents
        |), fl AS (
        |  SELECT
        |    len(toks) BETWEEN 50 AND 100000 AS g_word_count,
        |    (list_sum(list_transform(toks, x -> len(x)))::DOUBLE
        |       / len(toks)::DOUBLE) BETWEEN 3.0 AND 10.0 AS g_mean_word_len,
        |    ((len(text) - len(replace(text, '#', ''))) +
        |     (len(text) - len(replace(text, '...', ''))) / 3)::DOUBLE
        |       / greatest(len(toks), 1)::DOUBLE <= 0.1 AS g_symbol_ratio,
        |    (len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
        |       / greatest(len(toks), 1)::DOUBLE) >= 0.8 AS g_alpha_words,
        |    len(list_filter(['the','be','to','of','and','that','have','with'],
        |        s -> list_contains(list_transform(toks, x -> lower(x)), s)))
        |      >= 1 AS g_stopwords
        |  FROM t
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(CASE WHEN NOT coalesce(g_word_count, false)
        |             THEN 1 END) AS BIGINT) AS fail_word_count,
        |  CAST(count(CASE WHEN NOT coalesce(g_mean_word_len, false)
        |             THEN 1 END) AS BIGINT) AS fail_mean_word_len,
        |  CAST(count(CASE WHEN NOT coalesce(g_symbol_ratio, false)
        |             THEN 1 END) AS BIGINT) AS fail_symbol_ratio,
        |  CAST(count(CASE WHEN NOT coalesce(g_alpha_words, false)
        |             THEN 1 END) AS BIGINT) AS fail_alpha_words,
        |  CAST(count(CASE WHEN NOT coalesce(g_stopwords, false)
        |             THEN 1 END) AS BIGINT) AS fail_stopwords,
        |  CAST(count(CASE WHEN coalesce(g_word_count, false)
        |                   AND coalesce(g_mean_word_len, false)
        |                   AND coalesce(g_symbol_ratio, false)
        |                   AND coalesce(g_alpha_words, false)
        |                   AND coalesce(g_stopwords, false)
        |             THEN 1 END) AS BIGINT) AS n_all_pass
        |FROM fl""".stripMargin,
    "text_winnow_pairs" -> winnowPairsSql(dfCap = Some(48)),
    // exact full-fingerprint companion: same replay, no df cap
    "text_winnow_pairs_exact" -> winnowPairsSql(dfCap = None),
    // full first-principles replay of the dedup rewrite: brute-force
    // gram explosion, value windows for the canonical pick,
    // gaps-and-islands merge, lead complements, ordered string_agg
    "text_remove_dup_spans" -> removeDupSpansSql(stats = false),
    // same replay reduced to the 1-row benchable aggregate
    "text_remove_dup_spans_stats" -> removeDupSpansSql(stats = true),
    "pipe_clean_corpus" ->
      s"""WITH deduped AS (
         |  SELECT * FROM documents
         |  WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
         |), gated AS (
         |  SELECT *, $qualityExpr AS q,
         |    CASE WHEN len(list_filter(string_split_regex(trim(text), '\\s+'),
         |           t -> list_contains(${markers("en")}, lower(t)))) > 0
         |         THEN 'en' ELSE 'other' END AS lang_guess
         |  FROM deduped)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS token_budget,
         |  round(sum(q) / count(*), 6) AS mean_quality
         |FROM gated
         |WHERE q >= 0.5 AND lang_guess = 'en' AND doc_id % 4 < 3
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "text_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(t[i:i+3], ' ')
        |                   FOR i IN range(1, len(t) - 2)]) AS gs
        |  FROM toks WHERE len(t) >= 4
        |), corpus AS (
        |  SELECT doc_id, unnest(gs) AS g FROM grams
        |), bench AS (
        |  SELECT doc_id AS bench_id, unnest(gs) AS g FROM grams
        |  WHERE doc_id % 97 = 0)
        |SELECT c.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_shared
        |FROM corpus c JOIN bench b USING (g)
        |WHERE c.doc_id != b.bench_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pipe_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tok,
        |    CAST(sum(tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS BIGINT)
        |      AS cum_before
        |  FROM t)
        |SELECT CAST(cum_before // 2048 AS BIGINT) AS seq_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS seq_tokens
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_sample_stratified" ->
      """SELECT lang, count(*) AS n_kept FROM documents
        |WHERE (lang = 'en' AND doc_id % 2 < 1)
        |   OR (lang = 'de' AND doc_id % 4 < 1)
        |   OR (lang = 'fr' AND doc_id % 4 < 1)
        |   OR (lang = 'es' AND doc_id % 10 < 1)
        |   OR (lang = 'zh' AND doc_id % 10 < 1)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "text_quality_by_source" ->
      s"""SELECT source, count(*) AS n_docs,
         |  round(sum($qualityExpr) / count(*), 6) AS mean_quality,
         |  CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS total_tokens
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "pipe_filter_funnel" ->
      s"""SELECT CASE
         |    WHEN NOT (n_chars >= 80) THEN '1_minlen'
         |    WHEN NOT ($qualityExpr >= 0.4) THEN '2_quality'
         |    WHEN NOT (len(list_filter(string_split_regex(trim(text), '\\s+'),
         |               t -> list_contains(${markers("en")}, lower(t)))) > 0)
         |      THEN '3_lang'
         |    ELSE 'kept' END AS stage,
         |  count(*) AS n
         |FROM documents GROUP BY stage ORDER BY stage""".stripMargin,
    "text_rarity" ->
      """WITH dt AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS term
        |  FROM documents
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM dt GROUP BY term
        |), agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |    CAST(sum(df) AS BIGINT) AS sum_df,
        |    min(struct_pack(df := df, term := term)) AS r
        |  FROM dt JOIN dfreq USING (term) GROUP BY doc_id)
        |SELECT doc_id, n_terms, sum_df,
        |  CAST(r.df AS BIGINT) AS rarest_df, r.term AS rarest_term
        |FROM agg ORDER BY doc_id""".stripMargin,
    "text_top_terms" ->
      """SELECT term, count(*) AS n
        |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
        |      FROM documents)
        |WHERE length(term) >= 3
        |GROUP BY term
        |ORDER BY n DESC, term
        |LIMIT 25""".stripMargin,
    "pipe_mix_sources" ->
      """WITH mixed AS (
        |  SELECT source, len(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents
        |  WHERE (CAST(substr(source, 4) AS INT) % 2 = 0 AND (doc_id // 20) % 2 < 1)
        |     OR (CAST(substr(source, 4) AS INT) % 2 = 1 AND (doc_id // 20) % 4 < 1)
        |), tot AS (SELECT CAST(sum(tok) AS BIGINT) AS total_tokens FROM mixed)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS tokens,
        |  round(CAST(CAST(sum(tok) AS BIGINT) AS DOUBLE)
        |        / CAST(total_tokens AS DOUBLE), 6) AS mix_share
        |FROM mixed, tot GROUP BY source, total_tokens ORDER BY source""".stripMargin,
    "pipe_mix_temperature" ->
      """WITH stats AS (
        |  SELECT source,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_w
        |  FROM documents GROUP BY source
        |), mn AS (SELECT min(n_w) AS mw FROM stats),
        |rates AS (
        |  SELECT source, sqrt(CAST(mw AS DOUBLE) / CAST(n_w AS DOUBLE)) AS rate
        |  FROM stats, mn
        |), kept AS (
        |  SELECT d.source, len(string_split_regex(trim(d.text), '\s+')) AS tok,
        |    r.rate
        |  FROM documents d JOIN rates r USING (source)
        |  WHERE (d.doc_id // 20) % 20 < floor(r.rate * 20)
        |), tot AS (SELECT CAST(sum(tok) AS BIGINT) AS t FROM kept)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tok) AS BIGINT) AS tokens,
        |  round(min(rate), 6) AS keep_rate,
        |  round(CAST(CAST(sum(tok) AS BIGINT) AS DOUBLE) / CAST(t AS DOUBLE), 6)
        |    AS mix_share
        |FROM kept, tot GROUP BY source, t ORDER BY source""".stripMargin,
    "text_scrub" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com now or call +1-555-'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(text, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_pii
        |FROM aug ORDER BY doc_id""".stripMargin,

    "text_ngram_diversity" ->
      """WITH toks AS (
        |  SELECT source, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents
        |), uni AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT g) AS BIGINT) AS distinct_tokens
        |  FROM (SELECT source, unnest(t) AS g FROM toks)
        |  GROUP BY source
        |), bi AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(count(DISTINCT g) AS BIGINT) AS distinct_bigrams
        |  FROM (SELECT source,
        |          unnest([t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))]) AS g
        |        FROM toks WHERE len(t) >= 2)
        |  GROUP BY source
        |)
        |SELECT uni.source, n_tokens, distinct_tokens,
        |  round(distinct_tokens::DOUBLE / n_tokens, 6) AS uni_diversity,
        |  n_bigrams, distinct_bigrams,
        |  round(distinct_bigrams::DOUBLE / n_bigrams, 6) AS bi_diversity
        |FROM uni JOIN bi ON uni.source = bi.source
        |ORDER BY uni.source""".stripMargin,

    "text_kl_mixture" ->
      """WITH counts AS (
        |  SELECT source, g, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS g
        |        FROM documents)
        |  GROUP BY source, g
        |), gt AS (SELECT source, CAST(sum(c) AS BIGINT) AS gt FROM counts GROUP BY source),
        |   cc AS (SELECT g, CAST(sum(c) AS BIGINT) AS cc FROM counts GROUP BY g),
        |   ct AS (SELECT CAST(sum(c) AS BIGINT) AS ct FROM counts)
        |SELECT counts.source, CAST(max(gt.gt) AS BIGINT) AS n_tokens,
        |  round(sum((c::DOUBLE / gt.gt) * ln((c::DOUBLE / gt.gt) / (cc.cc::DOUBLE / ct.ct))), 6)
        |    AS kl_nats
        |FROM counts
        |JOIN gt ON counts.source = gt.source
        |JOIN cc ON counts.g = cc.g
        |CROSS JOIN ct
        |GROUP BY counts.source
        |ORDER BY counts.source""".stripMargin
  )
}
