package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

import graft.plans.RollingHashes

/** Exact substring-level duplication (the character-level counterpart
  * of the token-passage census): find the literal strings that repeat
  * across (or within) documents — the signal behind
  * deduplicate-before-training (Lee et al. 2022, "Deduplicating
  * Training Data Makes Language Models Better", which mined exact
  * duplicated substrings with suffix arrays; here the same answers come
  * from rolling-hash window grouping, which Spark distributes
  * naturally).
  *
  * Two operators:
  *  - [[gramCensus]]: all length-L substrings occurring ≥ 2 times
  *    corpus-wide (fixed L ⇒ fully oracle-replayable in SQL by
  *    exploding `substr(text, i, L)`);
  *  - [[longestDupLen]]: the MAXIMUM length at which any duplicated
  *    substring exists, found by binary search on L over the census's
  *    existence bit — ⌈log₂(maxLen)⌉ corpus passes, never a suffix
  *    array in memory.
  *
  * 100 TB shape: each pass emits one (hash:int64, doc, pos) row per
  * character — a bounded-width shuffle keyed on the hash, with map-side
  * combine collapsing per-partition repeats; document TEXT never enters
  * the wide shuffle (only the few hash-hot positions join back to their
  * source rows to extract and value-verify the gram, eliminating
  * wrap-around collisions). For corpora where even that is too hot,
  * winnowing (Schleimer et al. 2003) — selecting the min-hash window
  * per w-window — cuts emitted positions ~2/(w+1) at the cost of a
  * guaranteed-detection length of L+w−1; the census here is the exact,
  * lossless form.
  */
object SubstringDedup {

  /** All length-L substrings occurring at least twice corpus-wide:
    * (gram, n_docs, n_occ), occurrences counted over every window
    * position (overlapping occurrences included, intra-document repeats
    * included — the suffix-array convention). Hash groups are
    * value-verified: a Long-wrap collision can only create a CANDIDATE,
    * never an output row.
    */
  def gramCensus(df: DataFrame, len: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(len >= 1, "gramCensus: len >= 1")
    // narrow: one row per window, carrying only (doc, pos, hash)
    val hashes = df.select(col(idCol).as("doc"),
      posexplode(RollingHashes(col(textCol), len)).as(Seq("pos", "h")))
    // hash-level pre-filter: counts shuffle as partially-combined longs
    val hot = hashes.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select("h")
    // only hot positions rejoin their source text to extract the gram;
    // grouping on the VALUE removes hash collisions
    hashes.join(hot, Seq("h"), "left_semi")
      .join(df.select(col(idCol).as("doc"), col(textCol).as("t")), Seq("doc"))
      .select(col("doc"), F.substring(col("t"), col("pos") + 1, lit(len)).as("gram"))
      .groupBy("gram")
      .agg(countDistinct("doc").as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
  }

  /** True iff any length-L substring occurs ≥ 2 times (value-verified). */
  def hasDupOfLen(df: DataFrame, len: Int,
      idCol: String = "doc_id", textCol: String = "text"): Boolean =
    gramCensus(df, len, idCol, textCol).limit(1).count() > 0

  /** Winnowing fingerprints (Schleimer et al. 2003): the selected
    * (position, hash) set per document — ~2/(w+1) of all g-gram hashes,
    * with the guarantee that any shared substring of length ≥ g + w − 1
    * yields a shared fingerprint. A narrow one-pass native map
    * ([[graft.plans.WinnowExpr]]); only the selected fingerprints ever
    * leave the scan.
    */
  def winnowedFingerprints(df: DataFrame, gram: Int = 8, window: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(col(idCol).as("doc"),
        explode(graft.plans.WinnowExpr(col(textCol), gram, window)).as("fp"))
      .select(col("doc"), col("fp.pos").as("pos"), col("fp.h").as("h"))

  /** Document pairs sharing at least `minShared` winnowed fingerprints
    * — the MOSS-style overlap report. The pair search is an equi-join
    * on the fingerprint hash (bucketed like the LSH/MinHash families:
    * candidates only ever meet inside a hash bucket, never all-pairs);
    * fingerprints are pre-deduplicated per doc so a long internal
    * repeat cannot inflate a pair's count.
    *
    * `dfCap`: the hot-bucket guard. A fingerprint present in d
    * documents emits d² candidate rows from the bucket join, so a
    * boilerplate phrase shared corpus-wide turns the join quadratic
    * (measured 80.7× wall-clock for 10× data on a closed-vocabulary
    * corpus). With dfCap set, fingerprints appearing in more than
    * `dfCap` documents are dropped from EVERY document's set before
    * pairing — MOSS's own stop-fingerprint move (Schleimer et al. §5
    * discard overly-common fingerprints as boilerplate), and the same
    * semantics-preserving-cap design as `CosinePairs.dfCap`: overlap
    * over the rare-fingerprint subspace, a well-defined pipeline a SQL
    * oracle replays exactly (HAVING count(*) <= cap), not a lossy
    * heuristic. Per-bucket fan-out is then ≤ dfCap² regardless of
    * corpus size, so total join volume grows with the number of
    * distinct fingerprints — linear in corpus. None = exact
    * full-fingerprint semantics (quadratic in hot buckets by nature).
    */
  def winnowedPairs(df: DataFrame, gram: Int = 8, window: Int = 4,
      minShared: Int = 2, dfCap: Option[Int] = None,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(dfCap.forall(_ >= 2), "winnowedPairs: dfCap >= 2 (df=1 never pairs)")
    val all = winnowedFingerprints(df, gram, window, idCol, textCol)
      .select("doc", "h").distinct()
    // document frequency per fingerprint: counts shuffle as combined
    // longs (map-side partials), never doc lists
    val fps = dfCap.fold(all) { c =>
      val rare = all.groupBy("h").agg(count(lit(1)).as("dfc"))
        .filter(col("dfc") <= c)
        .select("h")
      all.join(rare, Seq("h"), "left_semi")
    }
    val a = fps.select(col("doc").as("doc_a"), col("h"))
    val b = fps.select(col("doc").as("doc_b"), col("h"))
    a.join(b, Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** The deduplicate-before-training TRANSFORM (Lee et al. 2022 §4:
    * remove all but one occurrence of every duplicated substring):
    * rewrite each document with every length-`len` gram that occurs
    * ≥ 2 times corpus-wide CUT OUT, except the corpus-canonical first
    * occurrence (lowest (doc, pos)), which survives. Overlapping
    * removal spans merge before cutting, so a long repeated passage is
    * excised once as a block, exactly as its overlapping grams imply.
    * Returns (idCol, textCol) with rewritten text for every input row
    * (documents without duplicated grams, shorter than `len`, or NULL
    * pass through unchanged).
    *
    * Every step is declarative and engine-portable — census hashes,
    * value-verified gram groups, `row_number = 1` canonical pick,
    * gaps-and-islands interval merge, complement ("kept") segments via
    * `lead`, in-order concat — so a SQL oracle replays the whole
    * rewrite and the output text hash-matches.
    *
    * 100 TB shape: LINEAR end to end — one (hash,doc,pos) row per
    * character with map-side-combined counts (census shape), only
    * hash-hot positions rejoin their text, and a duplicated gram with
    * d occurrences emits d rows (never d² — no pair join anywhere).
    * The windows partition by gram value (group size = occurrence
    * count) and by doc (spans per doc); the rewrite shuffles only
    * (doc, span) intervals plus one final doc-keyed join.
    */
  def removeDupSpans(df: DataFrame, len: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(len >= 1, "removeDupSpans: len >= 1")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("doc"), col(textCol).as("t"))
    // (doc, pos, h) per window position — 0-based pos, census shape
    val hashes = base.select(col("doc"),
      posexplode(RollingHashes(col("t"), len)).as(Seq("pos", "h")))
    val hot = hashes.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("h")
    // hot positions extract their gram VALUE (collisions can only make
    // candidates; the value window below decides)
    val occ = hashes.join(hot, Seq("h"), "left_semi")
      .join(base, Seq("doc"))
      .select(col("doc"), col("pos"),
        F.substring(col("t"), col("pos") + 1, lit(len)).as("gram"))
    val wg = Window.partitionBy("gram")
    val wgOrd = wg.orderBy(col("doc"), col("pos"))
    // removal spans: every non-canonical occurrence of a true duplicate
    val spans0 = occ
      .withColumn("n", count(lit(1)).over(wg))
      .withColumn("rn", row_number().over(wgOrd))
      .filter(col("n") > 1 && col("rn") > 1)
      .select(col("doc"), col("pos").as("start"),
        (col("pos") + len).as("end"))
    // gaps & islands: merge overlapping/touching spans per doc
    val wd = Window.partitionBy("doc").orderBy(col("start"), col("end"))
    val merged = spans0
      .withColumn("prev_max",
        max(col("end")).over(wd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("fresh",
        (col("prev_max").isNull || col("start") > col("prev_max")).cast("int"))
      .withColumn("island",
        sum(col("fresh")).over(wd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc", "island")
      .agg(min(col("start")).as("s"), max(col("end")).as("e"))
    // complement segments: head [0, first s) plus one [e, next s) per
    // span (next s defaults to the doc length) — no fold, just lead
    val withLen = merged.join(base, Seq("doc"))
      .withColumn("m", length(col("t")))
    val wl = Window.partitionBy("doc").orderBy(col("s"))
    val head = withLen.withColumn("first_s", min(col("s")).over(wl))
      .filter(col("s") === col("first_s"))
      .select(col("doc"), lit(0L).as("k_start"),
        col("s").cast("long").as("k_end"), col("t"))
    val tails = withLen
      .withColumn("next_s", lead(col("s"), 1).over(wl))
      .select(col("doc"), col("e").cast("long").as("k_start"),
        coalesce(col("next_s"), col("m")).cast("long").as("k_end"), col("t"))
    val kept = head.unionByName(tails)
      .filter(col("k_end") > col("k_start"))
      .select(col("doc"), col("k_start"),
        col("t").substr((col("k_start") + 1).cast("int"),
          (col("k_end") - col("k_start")).cast("int")).as("seg"))
    // rebuild per doc IN ORDER; docs whose every segment vanished
    // rebuild to the empty string, never to their original text
    val rebuilt = merged.select("doc").distinct()
      .join(kept.groupBy("doc")
          .agg(concat_ws("", transform(
            array_sort(collect_list(struct(col("k_start"), col("seg")))),
            x => x.getField("seg"))).as("nt")),
        Seq("doc"), "left")
      .select(col("doc"), coalesce(col("nt"), lit("")).as("nt"))
    base.join(rebuilt, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        coalesce(col("nt"), col("t")).as(textCol))
  }

  /** The longest duplicated substring length L* in [minLen, maxLen]:
    * binary search on the monotone existence predicate (a duplicate of
    * length L contains duplicates of every shorter length). None when
    * no duplicate of even `minLen` exists. Driver state: two ints and
    * one boolean per probe.
    *
    * The search range is clamped by the longest document (no duplicate
    * outlives the longest text, so a generous default `maxLen` costs
    * only its log) and probes remain value-verified end to end: a
    * rolling-hash collision can make a candidate, never an existence
    * verdict. Each probe deliberately RE-SCANS parquet rather than a
    * persisted projection: both persist variants were measured SLOWER
    * at sf1 (cold search 27.7 s with `base`+per-probe hash caching vs
    * 17.6 s scanning parquet, identical join strategies either way,
    * both arms from ONE r15 A/B session; the separately checked-in
    * single-arm artifact `bench_longest_dup_cold_sf1.json` recorded
    * 15.9 s for the parquet-scan search in a different session —
    * between-session host drift, same conclusion either way). The
    * columnar cache scan loses to the vectorized zstd parquet reader,
    * and the census shuffles, not the scans, dominate probe cost.
    * The cross-INVOCATION amortization lives one layer up:
    * query registrations memoize L* per corpus content stamp
    * (graft.queries.TextQueries), so repeat invocations skip the
    * search entirely.
    */
  def longestDupLen(df: DataFrame, minLen: Int = 8, maxLen: Int = 4096,
      idCol: String = "doc_id", textCol: String = "text"): Option[Int] = {
    require(1 <= minLen && minLen <= maxLen, "1 <= minLen <= maxLen")
    val base = df.select(col(idCol).as("doc"), col(textCol).as("t"))
    def existsAt(len: Int): Boolean = {
      val hashes = base.select(col("doc"),
        posexplode(RollingHashes(col("t"), len)).as(Seq("pos", "h")))
      val hot = hashes.groupBy("h").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).select("h")
      hashes.join(hot, Seq("h"), "left_semi")
        .join(base, Seq("doc"))
        .select(F.substring(col("t"), col("pos") + 1, lit(len)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .limit(1).count() > 0
    }
    // no duplicate outlives the longest document
    val longestDoc = base.agg(max(length(col("t")))).collect().head
    val cap = if (longestDoc.isNullAt(0)) 0
      else math.min(maxLen, longestDoc.getInt(0))
    if (cap < minLen || !existsAt(minLen)) None
    else {
      // invariant: dup exists at lo, none at hi
      var lo = minLen
      var hi = cap + 1
      while (hi - lo > 1) {
        val mid = lo + (hi - lo) / 2
        if (existsAt(mid)) lo = mid else hi = mid
      }
      Some(lo)
    }
  }

  /** The frame the `text_longest_dup` query returns when no duplicate of
    * even `minLen` exists: the census schema with a leading `len`.
    */
  def emptyLongestDupFrame(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, String, Long, Long)].toDF("len", "gram", "n_docs", "n_occ")
  }
}
