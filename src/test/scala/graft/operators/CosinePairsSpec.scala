package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CosinePairsSpec extends SparkSpec {
  import spark.implicits._

  test("hand corpus: exact cosines, short docs excluded, dups at 1.0") {
    // doc 1 and 2 identical → cosine 1.0; doc 3 shares two of doc 1's
    // three shingles; doc 4 disjoint; doc 5 too short for 3-grams;
    // doc 6 is doc 1 UPPERCASED — the lowercase-normalization contract
    // pin (this operator lowercases; the Jaccard family does not)
    val df = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e"),
      (3L, "a b c d x"),
      (4L, "p q r s t"),
      (5L, "a b"),
      (6L, "A B C D E")
    ).toDF("doc_id", "text")
    val got = CosinePairs.tfCosinePairs(df, "text", "doc_id", threshold = 0.5)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Double)].collect()
    // shingles of 1: {abc, bcd, cde}; of 3: {abc, bcd, cdx} → dot 2,
    // norms √3 → cos = 2/3
    val twoThirds =
      BigDecimal(2.0 / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq(
      (1L, 2L, 1.0), (1L, 3L, twoThirds), (1L, 6L, 1.0),
      (2L, 3L, twoThirds), (2L, 6L, 1.0),
      (3L, 6L, twoThirds)))
    // below-threshold pair really is below: doc 4 never pairs
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("prefix filter loses no pairs vs the unpruned inverted index") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val t = 0.35 // low threshold → long suffixes → the filter is stressed
    val got = CosinePairs.tfCosinePairs(docs, "text", "doc_id", t)
      .select("id_a", "id_b", "cosine")
    // naive reference: full inverted-index join, no prefix pruning
    val dt = docs.select(col("doc_id").as("id"),
        explode(CosinePairs.shingleList(col("text"), 3)).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val n2 = dt.groupBy("id").agg(sum(col("tf") * col("tf")).as("n2"))
    val naive = dt.as("a").join(dt.as("b"),
        col("a.term") === col("b.term") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
      .join(n2.select(col("id").as("id_a"), col("n2").as("na")), "id_a")
      .join(n2.select(col("id").as("id_b"), col("n2").as("nb")), "id_b")
      .withColumn("c", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("c") >= t)
      .select(col("id_a"), col("id_b"), round(col("c"), 6).as("cosine"))
    assert(got.count() > 0, "threshold chosen to yield pairs at sf0.001")
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty)
  }

  test("dfCap removes stop-shingles from the vectors, not just candidates") {
    // "a b c" appears in all three docs (df=3); every other shingle is
    // unique. Uncapped, each pair scores dot 1 over norms √2·√2 = 0.5;
    // with dfCap=2 the shared shingle leaves the vectors entirely and
    // no pair survives — capping changes the similarity SEMANTICS
    // (rare-term subspace), which is what makes it oracle-replayable
    val df = Seq(
      (1L, "a b c d"), (2L, "a b c e"), (3L, "a b c f")
    ).toDF("doc_id", "text")
    val uncapped = CosinePairs.tfCosinePairs(df, "text", "doc_id", 0.4)
      .as[(Long, Long, Double)].collect()
    assert(uncapped.length == 3 && uncapped.forall(_._3 == 0.5))
    val capped = CosinePairs.tfCosinePairs(df, "text", "doc_id", 0.4,
      dfCap = Some(2))
    assert(capped.isEmpty)
  }

  test("prefix + L2AP filters lose no pairs across a threshold sweep") {
    // deterministic random corpus over a small vocabulary so pairs land
    // on BOTH sides of every threshold; includes sub-n docs and exact
    // duplicates. The reference is the unpruned string-shingle inverted
    // index — so this also pins the native hashed tokenizer against the
    // string semantics end-to-end at each threshold.
    val rnd = new scala.util.Random(1234)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val base = (1 to 120).map { i =>
      val len = 1 + rnd.nextInt(12)
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // plant exact and near duplicates
    val planted = base.take(10).map { case (id, t) => (id + 1000L, t) } ++
      base.slice(10, 20).map { case (id, t) => (id + 2000L, t + " alpha") }
    val docs = (base ++ planted).toDF("doc_id", "text")
    def naive(t: Double, cap: Option[Int]) = {
      val dt0 = docs.select(col("doc_id").as("id"),
          explode(CosinePairs.shingleList(col("text"), 3)).as("term"))
        .groupBy("id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = dt0.groupBy("term").agg(count(lit(1)).as("df"))
      val dt = cap.fold(dt0)(c =>
        dt0.join(dfreq.filter(col("df") <= c), "term")
          .select("id", "term", "tf"))
      val n2 = dt.groupBy("id").agg(sum(col("tf") * col("tf")).as("n2"))
      dt.as("a").join(dt.as("b"),
          col("a.term") === col("b.term") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
        .join(n2.select(col("id").as("id_a"), col("n2").as("na")), "id_a")
        .join(n2.select(col("id").as("id_b"), col("n2").as("nb")), "id_b")
        .withColumn("c", col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
        .filter(col("c") >= t)
        .select(col("id_a"), col("id_b"), round(col("c"), 6).as("cosine"))
    }
    for (t <- Seq(0.3, 0.45, 0.6, 0.75, 0.9); cap <- Seq(None, Some(4))) {
      val got = CosinePairs.tfCosinePairs(docs, "text", "doc_id", t,
        dfCap = cap)
      val ref = naive(t, cap)
      assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
        s"mismatch at threshold $t cap $cap")
    }
    assert(naive(0.6, None).count() >= 10, "sweep corpus must yield pairs")
  }

  test("shingleList: multiplicity kept, sub-n text yields empty array") {
    val r = Seq(Some("a b a b a"), Some("x y"), None, Some(""), Some("A B C"),
      Some("\ta b  c d"), Some("a a a a a")).toDF("text")
      .select(CosinePairs.shingleList(col("text"), 3).as("sh"))
      .as[Seq[String]].collect()
    assert(r(0) == Seq("a b a", "b a b", "a b a")) // repeat NOT deduped
    assert(r(1).isEmpty)
    assert(r(2) == Seq.empty) // NULL text: empty, not NULL
    assert(r(3) == Seq.empty)
    assert(r(4) == Seq("a b c")) // exactly n tokens, lowercased
    // trim strips spaces only: the tab leaves an empty first token
    assert(r(5) == Seq(" a b", "a b c", "b c d"))
    assert(r(6) == Seq("a a a", "a a a", "a a a"))
  }
}
