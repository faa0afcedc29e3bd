package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.plans.{RollingHashes, RollingHashesExpr}

class SubstringDedupSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force census over code points — the spec's ground truth. */
  private def bruteCensus(docs: Seq[(Long, String)], len: Int): Map[String, (Long, Long)] = {
    val occ = for {
      (id, t) <- docs
      cps = t.codePoints().toArray
      i <- 0 to cps.length - len if cps.length >= len
    } yield (new String(cps, i, len), id)
    occ.groupBy(_._1)
      .view.mapValues(v => (v.map(_._2).distinct.size.toLong, v.size.toLong))
      .filter(_._2._2 > 1).toMap
  }

  test("rolling hashes: window i equals a direct polynomial of code points") {
    val text = "abcabcXabc"
    val L = 3
    val got = Seq(text).toDF("t")
      .select(RollingHashes($"t", L)).as[Seq[Long]].head()
    val cps = text.codePoints().toArray
    val expect = (0 to cps.length - L).map { i =>
      (i until i + L).foldLeft(0L)((h, j) => h * RollingHashesExpr.Base + cps(j))
    }
    assert(got == expect)
    // equal windows share a hash; the repeated "abc" occurs at 0, 3, 7
    assert(got(0) == got(3) && got(3) == got(7))
    assert(Seq("ab").toDF("t").select(RollingHashes($"t", 3)).as[Seq[Long]].head().isEmpty)
  }

  test("rolling hashes index by CODE POINTS — windows align with substring()") {
    // astral emoji are 2 UTF-16 units but 1 code point: window 1 of
    // "a😀b😀c" at L=3 must be "😀b😀", exactly what substring() extracts
    val text = "a😀b😀c"
    val df = Seq(text).toDF("t")
    val hashes = df.select(RollingHashes($"t", 3)).as[Seq[Long]].head()
    assert(hashes.length == 3) // 5 code points → 3 windows
    val win1 = df.select(substring($"t", 2, 3)).as[String].head()
    assert(win1 == "😀b😀")
  }

  test("gramCensus matches brute force incl. overlaps, intra-doc repeats, multi-doc") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a quick brown fox is quick brown and bold"),
      (3L, "aaaaaa"), // overlapping self-repeats: 'aaaa' occurs 3x
      (4L, "zzz unique document zzz")) // intra-doc repeat of 'zzz'
    val df = docs.toDF("doc_id", "text")
    for (l <- Seq(3, 4, 11)) {
      val got = SubstringDedup.gramCensus(df, l)
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == bruteCensus(docs, l), s"census mismatch at L=$l")
    }
  }

  test("longestDup finds the brute-force maximum; empty corpus-without-dups handled") {
    val docs = Seq(
      (1L, "xxTHE SHARED PASSAGE LIVES HEREyy"),
      (2L, "aaTHE SHARED PASSAGE LIVES HEREbb"),
      (3L, "completely different text"))
    val df = docs.toDF("doc_id", "text")
    val brute = (1 to 40).reverse.find(l => bruteCensus(docs, l).nonEmpty).get
    assert(SubstringDedup.longestDupLen(df, minLen = 2, maxLen = 40).contains(brute))
    val got = SubstringDedup.gramCensus(df, brute).as[(String, Long, Long)].collect()
    assert(got.map(_._1).toSet == bruteCensus(docs, brute).keySet)
    // maximality: nothing duplicated one char longer
    assert(!SubstringDedup.hasDupOfLen(df, brute + 1))
    // a corpus with no duplicate at minLen has no length
    val solo = Seq((1L, "abcdefg")).toDF("doc_id", "text")
    assert(SubstringDedup.longestDupLen(solo, minLen = 2, maxLen = 10).isEmpty)
  }

  /** Brute-force winnowing replay: mod-arithmetic gram hashes, window
    * minimum with rightmost tie, distinct selections.
    */
  private def bruteWinnow(text: String, g: Int, w: Int): Seq[(Int, Long)] = {
    val cps = text.codePoints().toArray
    if (cps.length < g) return Seq.empty
    val hs = (0 to cps.length - g).map { i =>
      (i until i + g).foldLeft(0L)((a, j) => (a * 31 + cps(j)) % 1000000007L)
    }
    val sels =
      if (hs.length < w) Seq(hs.zipWithIndex.minBy { case (h, i) => (h, -i) }._2)
      else (0 to hs.length - w).map { j =>
        (j until j + w).minBy(i => (hs(i), -i))
      }
    sels.distinct.map(i => (i, hs(i)))
  }

  test("winnow matches the brute-force replay (incl. ties and short texts)") {
    val texts = Seq(
      "the winnowing algorithm selects fingerprints deterministically",
      "aaaaaaaaaaaa", // all gram hashes equal → rightmost-tie exercised
      "ab", // shorter than gram → empty
      "abcdefgh", // exactly one gram → one selection
      "abcdefghij") // fewer grams than window → overall min
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = SubstringDedup.winnowedFingerprints(df, gram = 8, window = 4)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sortBy(_._1).toSeq).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val expect = bruteWinnow(t, 8, 4).sortBy(_._1)
      assert(got.getOrElse(i.toLong, Seq.empty) == expect, s"doc $i ('$t')")
    }
  }

  test("winnowing guarantee: shared substring of length >= g+w-1 shares a fingerprint") {
    val shared = "THIS EXACT RUN OF CHARS" // length 23 >= 8+4-1
    val docs = Seq(
      (1L, s"left padding ${shared} right padding"),
      (2L, s"completely other framing ${shared} and tail"))
    val df = docs.toDF("doc_id", "text")
    val pairs = SubstringDedup.winnowedPairs(df, gram = 8, window = 4, minShared = 1)
      .as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L),
      "documents sharing a >= g+w-1 substring must share a fingerprint")
  }

  test("hash collisions cannot forge census rows (value verification)") {
    // adversarial check by construction: grouping is on the extracted
    // VALUE; two singleton grams sharing a hash bucket must not merge.
    // With wraparound arithmetic collisions are unobservable at test
    // scale, so assert the stronger invariant: every census row's gram
    // really occurs n_occ times in the corpus
    val docs = (1L to 30L).map(i => (i, s"prefix_$i common_core_text_$i suffix"))
    val df = docs.toDF("doc_id", "text")
    val census = SubstringDedup.gramCensus(df, 6).as[(String, Long, Long)].collect()
    val all = docs.map(_._2)
    census.foreach { case (gram, _, nOcc) =>
      val count = all.map { t =>
        (0 to t.length - 6).count(i => t.substring(i, i + 6) == gram)
      }.sum
      assert(count == nOcc && nOcc > 1, s"'$gram' claimed $nOcc, found $count")
    }
  }

  /** Brute-force reference for removeDupSpans: same semantics, direct
    * string manipulation on the driver.
    */
  private def bruteRemove(docs: Seq[(Long, Option[String])], len: Int)
      : Map[Long, Option[String]] = {
    val occ = for {
      (id, to) <- docs; t <- to.toSeq
      p <- 0 to t.length - len
    } yield (t.substring(p, p + len), id, p)
    val spans = occ.groupBy(_._1).values.filter(_.size > 1).flatMap { g =>
      g.sortBy(o => (o._2, o._3)).drop(1).map(o => (o._2, o._3, o._3 + len))
    }.toSeq
    val byDoc = spans.groupBy(_._1).map { case (d, ss) =>
      // merge overlapping/touching intervals
      val sorted = ss.map(s => (s._2, s._3)).sortBy(identity)
      val merged = sorted.foldLeft(List.empty[(Int, Int)]) {
        case (acc @ ((ls, le) :: rest), (s, e)) =>
          if (s > le) (s, e) :: acc else (ls, math.max(le, e)) :: rest
        case (Nil, s) => List(s)
      }.reverse
      d -> merged
    }
    docs.map { case (id, to) =>
      id -> to.map { t =>
        byDoc.get(id).fold(t) { spans =>
          val keep = new StringBuilder
          var prev = 0
          spans.foreach { case (s, e) =>
            keep.append(t.substring(prev, s)); prev = e
          }
          keep.append(t.substring(prev)).toString
        }
      }
    }.toMap
  }

  test("removeDupSpans matches brute force: cross-doc, intra-doc, merged blocks") {
    val passage = "this exact passage is repeated verbatim across documents"
    val docs: Seq[(Long, Option[String])] = Seq(
      1L -> Some(s"alpha begins here $passage and then continues uniquely one"),
      2L -> Some(s"totally different opening $passage closing words two"),
      3L -> Some("an intra-doc repeat: SAME_BLOCK_REPEATED_HERE! then SAME_BLOCK_REPEATED_HERE! done"),
      4L -> Some("no duplication at all in this particular document body"),
      5L -> Some("tiny"),
      6L -> None)
    val df = docs.toDF("doc_id", "text")
    val got = SubstringDedup.removeDupSpans(df, len = 20)
      .as[(Long, Option[String])].collect().toMap
    val want = bruteRemove(docs, 20)
    assert(got == want, s"\n got: $got\nwant: $want")
    // the canonical first occurrence survived in doc 1, vanished in doc 2
    assert(got(1L).get.contains(passage))
    assert(!got(2L).get.contains(passage))
    // doc 3's second block is gone, first kept (merged as one span)
    assert(got(3L).get.contains("SAME_BLOCK_REPEATED_HERE!"))
    assert(got(3L).get.sliding("SAME_BLOCK_REPEATED_HERE!".length)
      .count(_ == "SAME_BLOCK_REPEATED_HERE!") == 1)
    // untouched docs pass through (incl. short + NULL)
    assert(got(4L) == docs(3)._2 && got(5L).contains("tiny") && got(6L).isEmpty)
  }

  test("removeDupSpans: a fully duplicated doc empties; the canonical keeps all") {
    val t = "the complete document text duplicated wholesale between two ids"
    val df = Seq((10L, t), (20L, t)).toDF("doc_id", "text")
    val got = SubstringDedup.removeDupSpans(df, len = 16)
      .as[(Long, String)].collect().toMap
    assert(got(10L) == t, "canonical doc must be untouched")
    assert(got(20L) == "", "duplicate doc must empty, not fall back to original")
    // and it agrees with brute force
    assert(got == bruteRemove(Seq(10L -> Some(t), 20L -> Some(t)), 16)
      .map { case (k, v) => k -> v.get })
  }

  test("dfCap drops boilerplate fingerprints but keeps rare-overlap pairs") {
    // 12 docs all carrying the same long boilerplate banner (df=12 for
    // its fingerprints); docs 1 and 2 additionally share a long RARE
    // passage. With dfCap=4 the banner stops pairing everyone with
    // everyone, while the (1,2) pair survives on its rare fingerprints.
    val banner = "ALL RIGHTS RESERVED COPYRIGHT BANNER TEXT REPEATED EVERYWHERE IN THE CORPUS"
    val rare = "the quick zebra vaulted over seventeen lazy quantum accordions yesterday"
    val docs = (1L to 12L).map { i =>
      // bodies are single-character runs, so no two docs share an 8-gram
      // outside the banner (and, for docs 1-2, the rare passage)
      val body = if (i <= 2) rare
        else ('a' + i.toInt).toChar.toString * 40
      (i, s"$banner $body $banner")
    }
    val df = docs.toDF("doc_id", "text")
    val uncapped = SubstringDedup.winnowedPairs(df, gram = 8, window = 4,
      minShared = 2).as[(Long, Long, Long)].collect().toSeq
    val capped = SubstringDedup.winnowedPairs(df, gram = 8, window = 4,
      minShared = 2, dfCap = Some(4)).as[(Long, Long, Long)].collect().toSeq
    // uncapped: the banner pairs every doc with every other (66 pairs)
    assert(uncapped.size == 66, s"expected all-pairs uncapped, got ${uncapped.size}")
    // capped: only the rare-passage pair remains
    assert(capped.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      s"capped pairs: $capped")
    // and the surviving pair's count never exceeds its uncapped count
    val un12 = uncapped.find(p => p._1 == 1L && p._2 == 2L).get._3
    assert(capped.head._3 <= un12)
  }
}
