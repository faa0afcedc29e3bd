package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TextAnalysis._
import graft.sources.Tables

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("token and subword counts") {
    val got = Seq("hello world", "  padded   out  ", "one-two, three!")
      .toDF("t")
      .select(tokenCount($"t"), subwordCount($"t"))
      .as[(Int, Int)].collect().toSeq
    // "one-two, three!" → 2 whitespace tokens; subwords: one,-,two,,,three,! → 6
    assert(got == Seq((2, 2), (2, 2), (2, 6)))
  }

  test("punct and stopword ratios bounded and sane") {
    val got = Seq("the cat sat on the mat", "!!!", "")
      .toDF("t")
      .select(round(punctRatio($"t"), 6), round(stopwordRatio($"t"), 6))
      .as[(Double, Double)].collect().toSeq
    assert(got(0)._1 == 0.0)
    assert(got(0)._2 == 0.5) // the, on, the of 6 tokens
    assert(got(1)._1 == 1.0)
  }

  test("quality score lands in [0,1] on real docs") {
    val q = graft.sources.Tables.documents(spark, sf001)
      .select(qualityScore($"text").as("q"))
      .agg(min("q"), max("q")).as[(Double, Double)].head()
    assert(q._1 >= 0.0 && q._2 <= 1.0)
  }

  test("langId picks marker-dominant language with deterministic ties") {
    val got = Seq(
      "the cat and the dog of the house",  // en markers
      "el perro de la casa y los gatos",   // es markers
      "xyzzy plugh qwerty")                // nothing
      .toDF("t").select(langId($"t")).as[String].collect().toSeq
    assert(got == Seq("en", "es", "und"))
  }

  test("fingerprint: deterministic, order-sensitive, engine-portable arithmetic") {
    val got = Seq("a b c", "c b a", "a b c", "")
      .toDF("t").select(fingerprint($"t")).as[Long].collect().toSeq
    assert(got(0) == got(2))
    assert(got(0) != got(1)) // order matters (rolling hash)
    assert(got(3) == 0L)
    // reference value computed by the same polynomial in plain Scala
    val expected = "a b c".foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000000007L)
    assert(got(0) == expected)
  }

  test("features struct is bit-identical to the Column forms, incl. edge cases") {
    // unicode, emoji, pure punctuation, whitespace edge cases (leading
    // tab survives trim), empty string, and real corpus rows
    val edge = Seq(
      "the cat sat on the mat", "!!!", "", "  padded   out  ",
      "\tleading tab", "xé 中😀 éy",
      "THE the The a of to in is").toDF("text")
    val corpus = graft.sources.Tables.documents(spark, sf001).select("text")
    for (df <- Seq(edge, corpus)) {
      val mismatched = withFeatures(df, "text", markers = langMarkers("en"))
        .filter(!(
          col("f.n_tokens") <=> tokenCount($"text") &&
          col("f.quality") <=> qualityScore($"text") &&
          round(punctRatioFrom($"f"), 6) <=> round(punctRatio($"text"), 6) &&
          round(stopwordRatioFrom($"f"), 6) <=> round(stopwordRatio($"text"), 6) &&
          round(meanTokenLenFrom($"f"), 6) <=> round(meanTokenLen($"text"), 6) &&
          col("f.n_markers") <=> langScore($"text", "en")))
        .count()
      assert(mismatched == 0)
    }
    // null text → null struct, like every Column form
    val n = Seq(Option.empty[String]).toDF("text")
      .select(features($"text")).collect()(0)
    assert(n.isNullAt(0))
  }

  test("fingerprint: full-Unicode code-point parity (ADVICE r1)") {
    // one BMP accent, one CJK, one supplementary-plane emoji (surrogate
    // pair in UTF-16), one combining mark — ascii()/split("") must see
    // CODE POINTS, matching DuckDB unicode()/string_split(''). A plain
    // Scala fold over codePoints is the cross-engine ground truth.
    // "xé 中😀 éy" spelled in escapes (precomposed é, then e+combining
    // acute) so source-file encoding can't silently alter the test
    val s = "x\u00e9 \u4e2d\ud83d\ude00 e\u0301y"
    def cpFold(t: String): Long = {
      var acc = 0L
      t.codePoints().forEach(cp => acc = (acc * 31 + cp) % 1000000007L)
      acc
    }
    val got = Seq(s).toDF("t").select(fingerprint($"t")).as[Long].head()
    assert(got == cpFold(s))
    // pin the individual code points Spark's ascii() produces, so an
    // engine upgrade regressing to first-byte/surrogate fails loudly
    val cps = Seq(s).toDF("t")
      .select(transform(split($"t", ""), c => ascii(c)).as("cps"))
      .as[Seq[Int]].head()
    assert(cps == s.codePoints().toArray.toSeq)
    assert(cps.contains(128512) && cps.contains(20013) && cps.contains(769))
  }

  test("compression ratio separates repetitive from high-entropy text") {
    val rep = "spam spam spam spam " * 50           // compresses hard
    val rnd = (1 to 1000).map(i =>                  // hash soup: high entropy
      Integer.toHexString(i * 2654435761L.toInt)).mkString(" ")
    val df = Seq((1L, rep), (2L, rnd)).toDF("doc_id", "text")
    val got = TextAnalysis.withCompressionRatio(df, "text")
      .select("doc_id", "compress_ratio").as[(Long, Double)].collect().toMap
    assert(got(1L) < 0.1, s"repetitive ratio ${got(1L)}")
    assert(got(2L) > 0.3, s"entropy ratio ${got(2L)}")
    assert(got.values.forall(r => r > 0 && r <= 1.5)) // deflate overhead can exceed 1 slightly
  }

  test("compression ratio: schema appended, deterministic, partition-independent") {
    val docs = (1L to 40L).map(i => (i, s"doc $i " + ("x " * i.toInt))).toDF("doc_id", "text")
    val a = TextAnalysis.withCompressionRatio(docs.repartition(1), "text")
      .select("doc_id", "compress_ratio").as[(Long, Double)].collect().sorted
    val b = TextAnalysis.withCompressionRatio(docs.repartition(7), "text")
      .select("doc_id", "compress_ratio").as[(Long, Double)].collect().sorted
    assert(a.sameElements(b))
    val out = TextAnalysis.withCompressionRatio(docs, "text")
    assert(out.columns.toSeq == Seq("doc_id", "text", "compress_ratio"))
  }

  test("compression ratio handles empty strings without dividing by zero") {
    val got = TextAnalysis.withCompressionRatio(
      Seq((1L, "")).toDF("doc_id", "text"), "text")
      .select("compress_ratio").as[Double].head()
    assert(got == 1.0)
  }

  test("lm score: rare-token docs score higher; hand-computed value matches") {
    // corpus: "the" ×6 (common), "zyx" ×1 (rare). N=7, V=2.
    val docs = Seq(
      (1L, "the the the"), (2L, "the the the"), (3L, "zyx")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(docs, "text", "doc_id")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val pThe = BigDecimal(math.log10(7.0 / 9.0)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val pZyx = BigDecimal(math.log10(2.0 / 9.0)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val expCommon = BigDecimal(-(pThe * 3).toDouble / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expRare = BigDecimal(-pZyx.toDouble / 1.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(_._2).toSeq == Seq(3L, 3L, 1L))
    assert(got(0)._3 == expCommon && got(1)._3 == expCommon && got(2)._3 == expRare)
    assert(expRare > expCommon, "rare tokens must be more surprising")
  }

  test("lm score is partition-independent (exact decimal log-prob sums)") {
    val docs = Tables.documents(spark, sf001).limit(60).cache()
    try {
      val a = TextAnalysis.lmScore(docs.repartition(1), "text", "doc_id")
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
      val b = TextAnalysis.lmScore(docs.repartition(13), "text", "doc_id")
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
      assert(a == b)
    } finally { docs.unpersist(); () }
  }

  test("lmScore caches its token table until Intermediates.release") {
    val docs = Tables.documents(spark, sf001).limit(60)
    val beforeIds = spark.sparkContext.getPersistentRDDs.keySet
    val scored = TextAnalysis.lmScore(docs, "text", "doc_id")
    val cached = scored.as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert((spark.sparkContext.getPersistentRDDs.keySet -- beforeIds).nonEmpty,
      "the token table must be cached while the result is alive")
    Intermediates.release(spark)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- beforeIds).isEmpty,
      "release must unpersist the token cache")
    // after release the same plan recomputes from the source: same rows
    assert(scored.as[(Long, Long, Double)].collect().sortBy(_._1).toSeq == cached)
  }

  test("lmBigramScore matches an independent in-memory bigram model") {
    val corpus = Seq((0L, "a b a b c"), (1L, "a b"), (2L, "c"), (3L, "b c a"))
    val docs = corpus.toDF("doc_id", "text")
    val got = TextAnalysis.lmBigramScore(docs, "text", "doc_id")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq

    // independent reference model (plain Scala collections)
    val toksBy = corpus.map { case (id, t) => id -> t.split("\\s+").toSeq }.toMap
    val all = toksBy.values.flatten.toSeq
    val uni = all.groupBy(identity).map { case (k, v) => k -> v.size }
    val (nTot, vSize) = (all.size, uni.size)
    val bigsBy = toksBy.map { case (id, ts) =>
      id -> ts.sliding(2).filter(_.size == 2).map(p => (p(0), p(1))).toSeq }
    val bm = bigsBy.values.flatten.toSeq.groupBy(identity)
      .map { case (k, v) => k -> v.size }
    val ctx = bm.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    def lp(v1: String, w: String): BigDecimal = {
      val p = 0.5 * (bm((v1, w)).toDouble / ctx(v1).toDouble) +
        0.5 * ((uni(w) + 1).toDouble / (nTot + vSize).toDouble)
      BigDecimal(math.log10(p)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }
    val want = bigsBy.toSeq.filter(_._2.nonEmpty).sortBy(_._1).map { case (id, bs) =>
      val s = bs.map { case (v1, w) => lp(v1, w) }.sum
      val score = BigDecimal(-s.toDouble / bs.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, bs.size.toLong, score)
    }
    assert(got == want)
    // the single-token doc has no bigrams and is absent
    assert(!got.exists(_._1 == 2L))
  }

  test("lmBigramScore caches its bigram table until Intermediates.release") {
    val docs = Tables.documents(spark, sf0001).limit(50)
    val beforeIds = spark.sparkContext.getPersistentRDDs.keySet
    val scored = TextAnalysis.lmBigramScore(docs, "text", "doc_id")
    val cached = scored.as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert((spark.sparkContext.getPersistentRDDs.keySet -- beforeIds).nonEmpty,
      "the bigram table must be cached while the result is alive")
    Intermediates.release(spark)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- beforeIds).isEmpty,
      "release must unpersist the bigram cache")
    // after release the same plan recomputes from the source: same rows
    assert(scored.as[(Long, Long, Double)].collect().sortBy(_._1).toSeq == cached)
  }

  test("lmBigramScore ranks a common-bigram doc as more predictable") {
    val docs = (0L to 19L).map(i => (i, "the quick brown fox")) ++
      Seq((100L, "the quick brown fox"), (101L, "fox the brown quick"))
    val scored = TextAnalysis.lmBigramScore(docs.toDF("doc_id", "text"),
      "text", "doc_id")
    val m = scored.filter(col("doc_id") >= 100L)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(m(100L) < m(101L),
      s"common word order should score as more predictable: $m")
  }

  test("gopher rules: each rule trips on its own counterexample doc") {
    val fifty = (1 to 50).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      // 0: passes everything — 50 plain words incl. a stopword
      0L -> Some("the " + (1 to 49).map(i => s"word$i").mkString(" ")),
      // 1: too short (10 words)
      1L -> Some("the " + (1 to 9).map(i => s"word$i").mkString(" ")),
      // 2: mean word length out of range (single-char words)
      2L -> Some("the " + Seq.fill(49)("a b").mkString(" ")),
      // 3: symbol-heavy (# per word)
      3L -> Some("the " + (1 to 49).map(i => s"##word$i###").mkString(" ")),
      // 4: numeric soup — no alphabetic chars in most words
      4L -> Some("the " + (1 to 49).map(i => s"${i}00%").mkString(" ")),
      // 5: no Gopher stopword at all
      5L -> Some(fifty),
      // 6: NULL text — must fail every rule via the coalesce convention
      6L -> None)
    val df = docs.toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.withGopherFlags(df, "text")
    def failing(rule: String): Set[Long] =
      got.filter(!coalesce(col(rule), lit(false))).select("doc_id")
        .as[Long].collect().toSet
    // each rule trips its intended counterexample (other docs may trip
    // a rule incidentally — e.g. symbol soup also inflates word length)
    assert(failing("g_word_count") == Set(1L, 6L))
    assert(failing("g_mean_word_len").contains(2L))
    assert(failing("g_symbol_ratio").contains(3L))
    assert(failing("g_alpha_words") == Set(4L, 6L))
    assert(failing("g_stopwords") == Set(5L, 6L))
    // doc 0 passes every rule; NULL text (doc 6) fails every rule
    val rules = Seq("g_word_count", "g_mean_word_len", "g_symbol_ratio",
      "g_alpha_words", "g_stopwords")
    rules.foreach { r =>
      assert(!failing(r).contains(0L), s"doc 0 must pass $r")
      assert(failing(r).contains(6L), s"NULL text must fail $r")
    }
    // …and every flag of the NULL-text doc is NULL, not a silent false
    val nullFlags = got.filter(col("doc_id") === 6L).select(rules.map(col): _*).head()
    assert(rules.indices.forall(nullFlags.isNullAt), s"NULL text flags: $nullFlags")
  }
}
