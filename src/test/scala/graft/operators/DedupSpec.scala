package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf001).cache()

  test("shingles: empty under n tokens, distinct, order-derived") {
    val texts = Seq(Some("a b c d"), Some("a b"), Some("x x x x x"), None,
      Some(""), Some("a b c"), Some("\ta b  c d"), Some("a a a a a"))
    val rows = texts.toDF("t")
      .select(Dedup.shingles($"t", 3), TextAnalysis.repetitionRatio($"t", 3))
      .as[(Seq[String], Double)].collect()
    val got = rows.map(_._1)
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq.empty)
    assert(got(2) == Seq("x x x")) // distinct collapses repeats
    assert(got(3) == Seq.empty) // NULL text: empty, not NULL
    assert(got(4) == Seq.empty)
    assert(got(5) == Seq("a b c")) // exactly n tokens
    // trim strips spaces only: the tab leaves an empty first token
    assert(got(6) == Seq(" a b", "a b c", "b c d"))
    assert(got(7) == Seq("a a a"))
    // 3 occurrences of 1 distinct shingle: 2 of 3 are repeats
    assert(rows.map(_._2).toSeq ==
      Seq(0.0, 0.0, 0.666667, 0.0, 0.0, 0.0, 0.0, 0.666667))
  }

  test("exact dedup keeps one row per distinct content, lowest id") {
    val df = Seq((1L, "same"), (5L, "same"), (3L, "other")).toDF("doc_id", "text")
    val groups = Dedup.exactGroups(df, "text", "doc_id")
      .orderBy("keep_id").as[(String, Long, Long)].collect()
    assert(groups.map(g => (g._2, g._3)).toSeq == Seq((1L, 2L), (3L, 1L)))
    val kept = Dedup.dropExact(df, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L))
  }

  test("minhash LSH finds every exact near-dup pair (recall=1 on testdata)") {
    val exact = Dedup.ngramJaccardBlocked(docs, "text", "doc_id",
      Seq("lang", "source"), threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(lsh), s"missed: ${exact -- lsh}")
    // and LSH pairs are genuine: verified jaccard filter is part of the op
    val verified = Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.5)
      .agg(min("jaccard")).as[Double].head()
    assert(verified >= 0.5)
    // the verify's sorted merge equals the order-agnostic reference
    // (array_intersect over the unsorted shingle sets) on every pair
    val sh = docs.select($"doc_id".as("id"), Dedup.hashedShingles($"text", 3).as("sh"))
    val pairs = Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.5)
    val mismatched = pairs
      .join(sh.select($"id".as("id_a"), $"sh".as("sa")), "id_a")
      .join(sh.select($"id".as("id_b"), $"sh".as("sb")), "id_b")
      .filter(Dedup.jaccard($"sa", $"sb") =!= $"jaccard")
    assert(lsh.nonEmpty && pairs.count() == lsh.size && mismatched.isEmpty)
  }

  test("minhash signature approximates jaccard") {
    val pairs = docs.limit(0) // build two docs with known overlap
    val df = Seq(
      (1L, (1 to 100).map(i => s"tok$i").mkString(" ")),
      (2L, (1 to 80).map(i => s"tok$i").mkString(" ") + " " +
        (200 to 219).map(i => s"tok$i").mkString(" "))).toDF("doc_id", "text")
    val sig = df.select($"doc_id",
      Dedup.minhashSignature(Dedup.hashedShingles($"text", 3), 256).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val est = sig(1L).zip(sig(2L)).count { case (a, b) => a == b } / 256.0
    val exactJ = Dedup.ngramJaccardBlocked(
      df.withColumn("blk", lit(1)), "text", "doc_id", Seq("blk"), 0.001)
      .select("jaccard").as[Double].head()
    assert(math.abs(est - exactJ) < 0.15, s"est=$est exact=$exactJ")
  }

  test("df-capped jaccard: no-op cap equals exact; biting cap drops hot shingles from the SETS (r17)") {
    // docs 1,2: a hot 4-token block H plus near-identical rare tails;
    // docs 3..10: H alone — so H's two shingles have df=10 and every
    // 3..10 pair is an exact duplicate at jaccard 1.0
    val hot = "h1 h2 h3 h4"
    val df = (Seq(
      (1L, s"$hot a1 a2 a3 a4"),
      (2L, s"$hot a1 a2 a3 a5")) ++
      (3L to 10L).map(i => (i, hot))).toDF("doc_id", "text")
      .withColumn("blk", lit(1))
    def pairs(cap: Option[Int]) =
      Dedup.ngramJaccardBlocked(df, "text", "doc_id", Seq("blk"),
        threshold = 0.5, dfCap = cap)
        .select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val exact = pairs(None)
    // exact: (1,2) at 5/7 plus all 28 pairs among the H-only clones
    assert(exact.size == 29)
    assert(exact.contains((1L, 2L, 5.0 / 7.0)))
    // a cap above every df is a SEMANTIC no-op, not approximately so
    assert(pairs(Some(100)) == exact)
    // cap 5 removes H's shingles (df=10) from the sets: the clones'
    // sets empty out (no pairs), and (1,2) re-scores on the rare
    // subspace — overlap 3 of union 5
    assert(pairs(Some(5)) == Set((1L, 2L, 0.6)))
  }

  test("simhash: identical texts distance 0; near texts closer than random") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog again and again"),
      ("b", "the quick brown fox jumps over the lazy dog again and again"),
      ("c", "the quick brown fox jumps over the lazy cat again and again"),
      ("d", "completely different words about spark catalyst optimizer plans")
    ).toDF("id", "text").select($"id", Dedup.simhash($"text").as("sig"))
    val sigs = df.as[(String, Long)].collect().toMap
    assert(sigs("a") == sigs("b"))
    val near = java.lang.Long.bitCount(sigs("a") ^ sigs("c"))
    val far = java.lang.Long.bitCount(sigs("a") ^ sigs("d"))
    assert(near < far, s"near=$near far=$far")
  }

  test("native hashed_shingles matches the HOF reference form exactly") {
    // corpus docs plus adversarial whitespace/unicode edges: tabs and
    // newlines survive trim() (it strips spaces only) and produce
    // empty tokens under split(-1); the native byte-scan must agree
    val edges = Seq("", " ", "\ta b", "a b\t", "a  b\n\nc d", "one two",
      "é 中 😀 tokens here", "x  y \f z w", "a b c", "a a a a")
      .toDF("text")
    for (df <- Seq(docs.select("text"), edges); n <- Seq(2, 3, 5)) {
      val mismatches = df
        .select(Dedup.hashedShingles($"text", n).as("native"),
          Dedup.hashedShinglesHof($"text", n).as("hof"))
        .filter(not($"native" <=> $"hof")).count()
      assert(mismatches == 0, s"n=$n")
    }
    // null text propagates
    val nulls = Seq[Option[String]](None).toDF("text")
      .select(Dedup.hashedShingles($"text", 3)).collect()
    assert(nulls.head.isNullAt(0))
  }

  test("native shingle/simhash parity holds on generated unicode + whitespace soup") {
    // adversarial generator: emoji (surrogate pairs), CJK, combining
    // marks, every ASCII whitespace \s matches, zero-width and NBSP
    // (NOT \s — must be treated as token chars), empty and
    // whitespace-only strings
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val atom = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(5)),
      Gen.oneOf("😀", "中文", "éé", "é", " ", "​", "ß", "я"),
      Gen.oneOf(" ", "\t", "\n", "", "\f", "\r", "  ", " \t "))
    val genText = Gen.listOfN(24, atom).map(_.mkString)
    val texts = (0 until 40).flatMap { i =>
      genText(Gen.Parameters.default, Seed(i.toLong))
    } ++ Seq("", " ", "\t\t", " ")
    val df = texts.toDF("text")
    for (n <- Seq(2, 3)) {
      val bad = df.select(
        Dedup.hashedShingles($"text", n).as("native"),
        Dedup.hashedShinglesHof($"text", n).as("hof"))
        .filter(not($"native" <=> $"hof")).count()
      assert(bad == 0, s"shingle parity n=$n")
    }
    val sim = df.select(
      graft.plans.TextHashExprs.simhashSig($"text").as("native"),
      Dedup.simhash($"text").as("scalar"))
      .filter(not($"native" <=> $"scalar")).count()
    assert(sim == 0, "simhash parity")
  }

  test("native minhash_sig matches the Column-API form exactly") {
    val viaExpr = docs
      .select($"doc_id", Dedup.hashedShingles($"text", 3).as("sh"))
      .filter(size($"sh") > 0)
      .select($"doc_id", graft.plans.TextHashExprs.minhashSig($"sh", 64).as("sig"))
    val viaHof = docs
      .select($"doc_id", Dedup.hashedShingles($"text", 3).as("sh"))
      .filter(size($"sh") > 0)
      .select($"doc_id", Dedup.minhashSignature($"sh", 64).as("sig"))
    val a = viaExpr.as[(Long, Seq[Long])].collect().toMap
    val b = viaHof.as[(Long, Seq[Long])].collect().toMap
    assert(a == b)
  }

  test("native simhash_sig matches scalar simhash bit-for-bit") {
    val native = docs.select($"doc_id",
      graft.plans.TextHashExprs.simhashSig($"text").as("sig"))
      .as[(Long, Long)].collect().toMap
    val scalar = docs.select($"doc_id", Dedup.simhash($"text").as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(native == scalar)
  }

  test("prefix-filtered ngram join equals unfiltered ground truth") {
    // brute-force every in-block pair at a LOW threshold via the scalar
    // jaccard, then check the prefix-filtered operator reproduces it at
    // several thresholds (no false negatives from the prefix bound)
    val small = docs.limit(300).cache()
    val t = small.select($"doc_id", $"lang", $"source",
      Dedup.hashedShingles($"text", 3).as("sh")).filter(size($"sh") > 0)
    val brute = t.as("l").join(t.as("r"),
        $"l.lang" === $"r.lang" && $"l.source" === $"r.source" &&
          $"l.doc_id" < $"r.doc_id")
      .select($"l.doc_id".as("id_a"), $"r.doc_id".as("id_b"),
        Dedup.jaccard($"l.sh", $"r.sh").as("j"))
    for (th <- Seq(0.3, 0.5, 0.9)) {
      val expect = brute.filter($"j" >= th)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val got = Dedup.ngramJaccardBlocked(small, "text", "doc_id",
        Seq("lang", "source"), threshold = th)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == expect, s"threshold=$th diff=${(expect -- got) ++ (got -- expect)}")
    }
    small.unpersist()
  }

  test("prefix bound survives float-rounding thresholds (0.07 x 100 regression)") {
    // IEEE: 0.07*100 = 7.000000000000001 → a naive ceil computes
    // min-overlap 8 and drops this exactly-at-threshold pair
    val aToks = (1 to 102).map(i => s"w$i")
    val a = aToks.mkString(" ")            // 100 distinct shingles
    val b = aToks.take(9).mkString(" ")    // its first 7 shingles
    val df = Seq((1L, a, "x"), (2L, b, "x")).toDF("doc_id", "text", "blk")
    val got = Dedup.ngramJaccardBlocked(df, "text", "doc_id",
      Seq("blk"), threshold = 0.07)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 0.07)))
  }

  test("connected components match union-find on a random pair graph") {
    // ground truth: plain Scala union-find over the same edges
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val parent = scala.collection.mutable.Map((0L until 60L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
    val expect = touched.map(i => i -> find(i)).toMap
    // set-difference, not a size compare: Spark's async ContextCleaner
    // may unpersist an earlier suite's garbage-collected cache entries
    // mid-test, shrinking the global count under a size equality
    val beforeIds = spark.sparkContext.getPersistentRDDs.keySet
    // both execution strategies must produce identical labels: the
    // driver-local union-find fast path (default for small edge lists)
    // and the distributed label-propagation loop (forced via
    // localMaxEdges = -1, the 100 TB path)
    val comps = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
    val got = comps.as[(Long, Long)].collect().toMap
    assert(got == expect)
    val compsDist = Dedup.connectedComponents(
      edges.toDF("id_a", "id_b"), localMaxEdges = -1L)
    val gotDist = compsDist.as[(Long, Long)].collect().toMap
    // the final label cache is alive until released
    assert((spark.sparkContext.getPersistentRDDs.keySet -- beforeIds).nonEmpty)
    Intermediates.release(spark)
    assert(gotDist == expect)
    // every round's backing RDD was released, incl. the final one
    // (only ids created by THIS test can appear in the difference)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- beforeIds).isEmpty)
    // long chain exercises multi-round convergence (diameter > 1 round)
    // through the DISTRIBUTED loop (the local path has no rounds)
    val chain = (0L until 30L).sliding(2).map(s => (s(1), s(0))).toSeq
    val chainGot = Dedup.connectedComponents(chain.toDF("id_a", "id_b"),
        localMaxEdges = -1L)
      .as[(Long, Long)].collect().toMap
    assert(chainGot == (0L until 30L).map(_ -> 0L).toMap)
  }

  test("resolveClusters keeps the min id per cluster and all unpaired rows") {
    val df = Seq((1L, "x"), (2L, "x2"), (3L, "y"), (9L, "z")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.resolveClusters(df, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 9L))
  }

  test("managed variants release their internal cache (ADVICE r1)") {
    // "managed": each operator registers its internal cache with
    // Intermediates, and Intermediates.release frees all of them
    // set-difference, not size equality: the async ContextCleaner can
    // remove an earlier suite's dead cache entries mid-test
    def cachedIds: Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    docs.count() // materialize the suite's own docs cache first
    val before = cachedIds
    // parameters deliberately differ from every other test so the
    // internal persist() can't dedup against a still-alive cache entry
    // from an earlier test (CacheManager reuses identical plans)
    val pairs = Dedup.minhashNearDups(
      docs, "text", "doc_id", threshold = 0.4, numHashes = 32, bands = 8)
    assert(pairs.select("id_a", "id_b").count() > 0)
    assert((cachedIds -- before).nonEmpty) // signature table really was cached
    Intermediates.release(spark)
    assert((cachedIds -- before).isEmpty)
    val shPairs = Dedup.simhashNearDups(
      docs, "text", "doc_id", Seq("lang", "source"), maxDist = 6)
    assert(shPairs.count() >= 0)
    assert((cachedIds -- before).nonEmpty)
    // shingleN (not threshold) is what the cached shingle table depends on
    val ngPairs = Dedup.ngramJaccardBlocked(
      docs, "text", "doc_id", Seq("lang", "source"), threshold = 0.6, shingleN = 4)
    assert(ngPairs.count() >= 0)
    Intermediates.release(spark)
    assert((cachedIds -- before).isEmpty) // every table was unpersisted
  }

  test("simhash near-dups on testdata include the exact near-dup pair") {
    val exact = Dedup.ngramJaccardBlocked(docs, "text", "doc_id",
      Seq("lang", "source"), threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sim = Dedup.simhashNearDups(docs, "text", "doc_id",
      Seq("lang", "source"), maxDist = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(sim), s"missed: ${exact -- sim}")
  }

  test("band-blocked simhash candidates are LOSSLESS vs the all-pairs join") {
    // the pigeonhole blocking must reproduce the exhaustive result
    // exactly, at several radii (band widths 12, 7, and 4 bits)
    for (maxDist <- Seq(4, 8, 12)) {
      val allPairs = docs
        .select($"doc_id", $"lang", $"source",
          graft.plans.TextHashExprs.simhashSig($"text").as("sig"))
        .as("l").join(docs.select($"doc_id", $"lang", $"source",
          graft.plans.TextHashExprs.simhashSig($"text").as("sig")).as("r"),
          $"l.lang" === $"r.lang" && $"l.source" === $"r.source" &&
            $"l.doc_id" < $"r.doc_id")
        .select($"l.doc_id".as("id_a"), $"r.doc_id".as("id_b"),
          Dedup.hamming($"l.sig", $"r.sig").as("h"))
        .filter($"h" <= maxDist)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val banded = Dedup.simhashNearDups(docs, "text", "doc_id",
        Seq("lang", "source"), maxDist)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(banded == allPairs,
        s"maxDist=$maxDist: banded ${banded.size} vs exhaustive ${allPairs.size}")
    }
  }

  test("snapshotDiff classifies added/removed/changed and hides unchanged") {
    val old = Seq((1L, "same"), (2L, "gone"), (3L, "before"), (4L, "kept"))
      .toDF("doc_id", "text")
    val nw = Seq((1L, "same"), (3L, "after"), (4L, "kept"), (5L, "fresh"))
      .toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(old, nw, "text", "doc_id")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(2L -> "removed", 3L -> "changed", 5L -> "added"))
  }

  test("snapshotDiff tracks presence with flags, not digest nullity") {
    // null-text docs must diff like any other: NULL↔NULL unchanged,
    // NULL↔text changed, and a null-text doc only in one side is
    // added/removed — not forever-'added' via sha2(NULL) IS NULL
    val old = Seq((1L, Option.empty[String]), (2L, Option.empty[String]),
      (3L, Option.empty[String])).toDF("doc_id", "text")
    val nw = Seq((1L, Option.empty[String]), (2L, Some("now set")),
      (4L, Option.empty[String])).toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(old, nw, "text", "doc_id")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("near-dup-aware ingest: replays and near-dups rejected, novel kept, min-id wins") {
    val histDocs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"),
      (2L, "one two three four five six seven eight nine ten eleven twelve thirteen"))
      .toDF("doc_id", "text")
    val idx = Dedup.nearDupIndex(histDocs, "text", "doc_id")
    val batch = Seq(
      // exact replay of history doc 1 → deterministic rejection
      (100L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"),
      // near-dup of history doc 2 (one word changed) → LSH rejection
      (101L, "one two three four five six seven eight nine ten eleven twelve ALTERED"),
      // novel cluster: two near-identical in-batch docs → min id only
      (102L, "zebra yak xylophone walrus vulture tiger snake rabbit quail panda otter newt"),
      (103L, "zebra yak xylophone walrus vulture tiger snake rabbit quail panda otter GNU"),
      // fully novel singleton
      (104L, "completely different content with no overlap whatsoever against anything here at all"))
      .toDF("doc_id", "text")
    val accepted = Dedup.incrementalIngestNearDup(idx, batch, "text", "doc_id",
      threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(!accepted.contains(100L), "exact replay must be rejected")
    assert(!accepted.contains(101L), "near-dup of history must be rejected")
    assert(accepted.contains(102L) && !accepted.contains(103L),
      s"in-batch cluster must keep the min id only: $accepted")
    assert(accepted.contains(104L), "novel doc must be accepted")
    // idempotence of the append cycle: extend the index with the
    // accepted docs' rows; re-submitting them must reject everything
    val idx2 = idx.unionByName(
      Dedup.nearDupIndex(batch.filter(col("doc_id").isin(accepted.toSeq: _*)),
        "text", "doc_id"))
    val replay = Dedup.incrementalIngestNearDup(idx2,
      batch.filter(col("doc_id").isin(accepted.toSeq: _*)), "text", "doc_id")
    assert(replay.isEmpty, "re-submitting accepted docs must be a no-op")
  }

  test("near-dup ingest dedups exact copies of sub-shingle docs within the batch") {
    // docs under shingleN tokens have no bands and no pairs — invisible
    // to every LSH stage; the exact digest pass must still admit only
    // one copy rather than silently accepting both
    val emptyIdx = Dedup.nearDupIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", "doc_id")
    val shorts = Seq((5L, "a b"), (9L, "a b"), (7L, "c d"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalIngestNearDup(emptyIdx, shorts, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(5L, 7L), s"got ${got.toSeq}")
  }

  test("near-dup ingest screens sub-shingle exact replays of history (digest screen)") {
    // a history doc too short to shingle has NO band keys; a band-only
    // index is blind to its exact replay. The digest column of the
    // near-dup index must reject it regardless.
    val hist = Seq((1L, "a b"), (2L, "long enough to shingle with many words here"))
      .toDF("doc_id", "text")
    val idx = Dedup.nearDupIndex(hist, "text", "doc_id")
    val batch = Seq((10L, "a b"), (11L, "x y")).toDF("doc_id", "text")
    val got = Dedup.incrementalIngestNearDup(idx, batch, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(11L), s"got ${got.toSeq}")
  }

  test("band collision below threshold is ADMITTED: the history screen verifies") {
    // A single LSH band hit is only weak evidence of similarity (at 16
    // bands x 4 rows, a moderately-similar pair collides on SOME band
    // with high probability) — the screen must VERIFY signature
    // agreement before rejecting. Fixture: search deterministically
    // (all hashes are seeded) for a batch doc that band-collides with
    // the history doc while its agreement sits in (0.3, 0.85); assert
    // it is admitted at threshold 0.9 and rejected once the threshold
    // drops below its measured agreement.
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima",
      "mike", "november", "oscar", "papa", "quebec", "romeo", "sierra",
      "tango")
    val histDoc = words.mkString(" ")
    val hist = Seq((1L, histDoc)).toDF("doc_id", "text")
    val idx = Dedup.nearDupIndex(hist, "text", "doc_id").cache()
    val hSig = idx.select("sig").as[Seq[Long]].head
    val hBands = idx.select("bands").as[Seq[Long]].head.toSet
    // candidate variants: replace the k-th word (and the last word) —
    // similarity well under 1, varying signatures deterministically
    val candidates = (0 until words.size).map { k =>
      words.zipWithIndex.map { case (w, i) =>
        if (i == k) s"CHANGED$k" else if (i == words.size - 1) "ALTERED" else w
      }.mkString(" ")
    }
    val cdf = candidates.zipWithIndex
      .map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
    val csigs = Dedup.docSignatures(cdf, "text", "doc_id")
      .select(col("id"), col("sig"),
        Dedup.lshBands(col("sig"), 16, 4).as("bands"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    val pick = csigs.flatMap { case (id, sig, bands) =>
      val agree = sig.zip(hSig).count { case (a, b) => a == b } / 64.0
      if (bands.exists(hBands.contains) && agree > 0.3 && agree < 0.85)
        Some((id, agree))
      else None
    }.headOption
    assert(pick.nonEmpty,
      "no band-colliding sub-threshold candidate found — widen the search")
    val (pickId, agree) = pick.get
    val batch = cdf.filter(col("doc_id") === pickId)
    val got = Dedup.incrementalIngestNearDup(idx, batch, "text", "doc_id",
      threshold = 0.9).select("doc_id").as[Long].collect()
    assert(got.toSeq == Seq(pickId),
      s"band-colliding doc with agreement $agree < 0.9 must be ADMITTED")
    // and once the threshold drops below the measured agreement, the
    // same collision DOES reject — the verify gates, it doesn't disable
    val thr = math.max(0.05, agree - 0.1)
    val got2 = Dedup.incrementalIngestNearDup(idx, batch, "text", "doc_id",
      threshold = thr).select("doc_id").as[Long].collect()
    assert(got2.isEmpty,
      s"at threshold $thr <= agreement $agree the doc must reject")
    idx.unpersist()
    ()
  }

  test("hot-band cap bounds the in-batch candidate join on boilerplate batches") {
    // a batch of hundreds of near-identical boilerplate docs makes some
    // band bucket quadratic: 400 docs sharing a band is 80k candidate
    // pairs from that band alone. pairsByAgreement drops bands held by
    // more than hotBandCap docs (the stop-fingerprint move): candidate
    // volume is bounded, and pairs whose docs also share a COLD band
    // are still found.
    val boiler = (0 until 40).map(j => s"boiler$j").mkString(" ")
    val bulk = (0 until 400).map(i => (i.toLong, s"$boiler unique$i"))
    // a planted near-dup pair with its own distinctive vocabulary: its
    // bands are cold (shared by 2 docs), so the cap must not lose it
    val planted = Seq(
      (9001L, "planted kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi"),
      (9002L, "planted kappa lambda mu nu xi omicron pi rho sigma tau upsilon CHANGED"))
    val sigs = Dedup.docSignatures(
      (bulk ++ planted).toDF("doc_id", "text"), "text", "doc_id").persist()
    try {
      // candidate volume under the cap is bounded by bands·cap per doc;
      // assert through the band-bucket census the cap keys on
      val bandCounts = sigs
        .select(explode(Dedup.lshBands(col("sig"), 16, 4)).as("band"))
        .groupBy("band").agg(count(lit(1)).as("c"))
      val maxBand = bandCounts.agg(max("c")).as[Long].head()
      assert(maxBand > 256L,
        s"fixture must saturate a band past the cap (got $maxBand)")
      val capped = Dedup.pairsByAgreement(sigs, 0.5, 16, 4)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val uncapped = Dedup.pairsByAgreement(sigs, 0.5, 16, 4,
        hotBandCap = Int.MaxValue)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(capped.subsetOf(uncapped))
      assert(capped.contains((9001L, 9002L)),
        "a cold-band near-dup pair must survive the hot-band cap")
      // the boilerplate cluster's hot bands are dropped: the capped
      // pair set over the bulk ids must be far below the uncapped one
      val bulkCapped = capped.count(p => p._1 < 9000L && p._2 < 9000L)
      val bulkUncapped = uncapped.count(p => p._1 < 9000L && p._2 < 9000L)
      assert(bulkUncapped > 10000,
        s"fixture must be quadratic uncapped (got $bulkUncapped)")
      assert(bulkCapped < bulkUncapped / 10,
        s"cap must cut the boilerplate candidates: $bulkCapped vs $bulkUncapped")
    } finally { sigs.unpersist(); () }
  }

  test("screening with mismatched signature parameters is a loud error") {
    // the index stores signatures but not their (numHashes, bands);
    // zip_with null-pads a mismatched agreement and the nulls count as
    // disagreement — the screen would silently reject nothing. The
    // ingest must fail loudly instead.
    val hist = Seq((1L, "long enough to shingle with many words in here"))
      .toDF("doc_id", "text")
    val idx = Dedup.nearDupIndex(hist, "text", "doc_id") // 64 hashes, 16 bands
    val batch = Seq((10L, "a totally different document body with words"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalIngestNearDup(idx, batch, "text", "doc_id",
        numHashes = 32, bands = 16)
    }
    assert(e.getMessage.contains("numHashes=64"), e.getMessage)
    // matching parameters still pass
    val ok = Dedup.incrementalIngestNearDup(idx, batch, "text", "doc_id")
      .select("doc_id").as[Long].collect()
    assert(ok.toSeq == Seq(10L))
  }

  test("index row with a signature but NULL bands is the loud guard error, not an NPE") {
    // a hand-built or foreign index frame can carry sig without bands;
    // the parameter guard must surface it as its own loud
    // IllegalArgumentException (nb = -1) rather than die on getInt(null)
    val idx = Seq(("d1", Seq.fill(64)(1L)))
      .toDF("digest", "sig")
      .withColumn("bands", lit(null).cast("array<bigint>"))
    val batch = Seq((10L, "a totally different document body with words"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalIngestNearDup(idx, batch, "text", "doc_id")
    }
    assert(e.getMessage.contains("bands=-1"), e.getMessage)
  }

  test("history screen drops boilerplate-saturated bands (the in-batch cap's measure)") {
    // the in-batch pairing caps hot bands (test above); the history
    // screen must apply the same policy to ITS candidate join, so a
    // pair whose only shared band is saturated co-lands whether the
    // docs arrive together or apart
    val batch = Seq((50L, (0 until 12).map(j => s"hs w$j tok$j")
      .mkString(" "))).toDF("doc_id", "text")
    val row = Dedup.nearDupIndex(batch, "text", "doc_id")
      .select(col("sig"), col("bands")).head
    val sig = row.getSeq[Long](0)
    val bands = row.getSeq[Long](1)
    // a boilerplate cluster: every fake row carries the batch doc's own
    // signature and band set (the guard pins 16-band arrays), so EVERY
    // shared band saturates together past the cap
    def idxOf(n: Int) = (0 until n)
      .map(i => (s"fakedigest$i", sig, bands))
      .toDF("digest", "sig", "bands")
    // cold bands, agreement 1.0: the collision rejects
    val cold = Dedup.incrementalIngestNearDup(idxOf(3), batch,
      "text", "doc_id").select("doc_id").as[Long].collect()
    assert(cold.isEmpty, s"cold-band agreement-1.0 collision must reject")
    // saturated bands (> HotBandCap rows each): dropped from the screen
    val hot = Dedup.incrementalIngestNearDup(idxOf(300), batch,
      "text", "doc_id").select("doc_id").as[Long].collect()
    assert(hot.toSeq == Seq(50L),
      "saturated bands must be dropped from the history screen")
  }

  test("Intermediates.scratch evaluates its body once; release deletes it") {
    // the single-evaluation pin behind dedup_components/dedup_resolve:
    // the upstream plan runs ONCE (at the parquet write), every later
    // action on the returned frame is a scan — counted via an
    // accumulator inside the plan
    val acc = spark.sparkContext.longAccumulator("evals")
    val bump = udf((x: Long) => { acc.add(1L); x })
    val df = spark.range(7).select(bump(col("id")).as("id_a"),
      (col("id") + 100L).as("id_b"))
    val mat = Intermediates.scratch("spec_once")(df)
    assert(acc.value == 7L, s"write must evaluate the plan once: ${acc.value}")
    assert(mat.count() == 7L && mat.count() == 7L
      && mat.select("id_a").as[Long].collect().sorted.toSeq == (0L to 6L))
    assert(acc.value == 7L,
      s"later actions must be scans, not re-evaluations: ${acc.value}")
    // the scratch dir exists until released, then is gone
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def dirs = tmp.listFiles().filter(_.getName.startsWith("graft_spec_once_"))
    assert(dirs.length == 1)
    // what the body registered is released once its data is on disk
    val inner = spark.range(5).select(col("id").as("id_a"), (col("id") + 1L).as("id_b"))
    val viaCache = Intermediates.scratch("spec_once")(Intermediates.persist(inner))
    assert(inner.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the body's persist must be released after the scratch write")
    assert(viaCache.count() == 5L && dirs.length == 2)
    Intermediates.release(spark)
    assert(dirs.isEmpty, "release must delete the scratch dirs")
  }

  test("the snapshot-diff carve modifies NULL-text docs too (concat_ws, ADVICE r7)") {
    // pins the pipe_snapshot_diff carving arithmetic: appending ' v2'
    // with plain concat on a NULL text yields NULL — the doc would then
    // diff 'unchanged' while an arithmetic-only oracle says 'changed'.
    // concat_ws(coalesce(text,'')) keeps the modified row distinct.
    val docs = Seq((11L, Option.empty[String]), (22L, Some("body")))
      .toDF("doc_id", "text")
    val old = docs
    val nw = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(11L)) === 0,
        concat_ws("", coalesce(col("text"), lit("")), lit(" v2")))
        .otherwise(col("text")))
    val got = Dedup.snapshotDiff(old, nw, "text", "doc_id")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(11L -> "changed", 22L -> "changed"))
  }
}
