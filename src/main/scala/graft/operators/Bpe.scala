package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed byte-pair-encoding vocabulary learning and tokenization
  * (Sennrich et al., "Neural Machine Translation of Rare Words with
  * Subword Units", ACL 2016) — the tokenizer-training step of an LLM
  * data pipeline, run corpus-scale.
  *
  * Scale shape (100 TB): the corpus is touched ONCE, to build the word
  * histogram — after that every merge round runs on the word-TYPE table
  * (|types| ≪ corpus tokens; Heaps' law keeps it millions of rows when
  * token counts are trillions). A round is: adjacent-pair explode over
  * types (narrow), a pair-count aggregation (the only shuffle, pair
  * rows only), a 1-row argmax collect, and a narrow map applying the
  * merge. Driver state is the merge list — O(nMerges) pairs, never
  * types. Type-table lineage is cut through a persisted-RDD round-trip
  * every `itersPerCut` rounds (the [[Graph.pageRank]] pattern),
  * so the plan never deepens past a bounded window and at most two
  * snapshots are cached at once.
  *
  * Determinism: the argmax tie-break is total (count desc, then left
  * and right symbol lexicographic), merges apply left-to-right within
  * a word, and [[encode]] replays merges in rank order — so training
  * segmentation and encoding segmentation agree exactly, at any
  * parallelism.
  */
object Bpe {

  /** (word, cnt) histogram — the single corpus pass. Empty tokens
    * (from all-whitespace text) are dropped.
    */
  def wordHistogram(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Adjacent symbol pairs of the current types, weighted by word
    * count, as (left_sym, right_sym, pair_count) — overlapping
    * occurrences counted, matching the classical learner.
    */
  private def pairCounts(types: Dataset[(Seq[String], Long)]): DataFrame = {
    import types.sparkSession.implicits._
    types.flatMap { case (syms, c) =>
        if (syms.length < 2) Iterator.empty
        else syms.iterator.zip(syms.iterator.drop(1)).map { case (l, r) => (l, r, c) }
      }
      .toDF("left_sym", "right_sym", "c")
      .groupBy("left_sym", "right_sym")
      .agg(sum(col("c")).as("pair_count"))
  }

  /** The single most frequent adjacent pair over the word histogram —
    * merge #1, exposed separately because it is exactly replayable in
    * plain SQL (the oracle for the whole pair-counting machinery).
    */
  def topPair(hist: DataFrame): DataFrame = {
    val types = initialTypes(hist)
    pairCounts(types)
      .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
      .limit(1)
  }

  /** Merge one pair left-to-right in a symbol sequence. */
  def applyMerge(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = new ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  private def initialTypes(hist: DataFrame): Dataset[(Seq[String], Long)] = {
    import hist.sparkSession.implicits._
    // split(word, "") yields one element per code point — the byte/char
    // alphabet the merges build on
    hist.select(split(col("word"), "").as("syms"), col("cnt").as("c"))
      .as[(Seq[String], Long)]
  }

  /** Learn `nMerges` merges over the histogram, choosing the strategy
    * by measured type count (the [[Dedup.connectedComponents]] move):
    * a word-TYPE table under `driverMaxTypes` rows (the common case —
    * Heaps' law keeps types ≪ tokens) collects once and iterates
    * driver-local with zero per-round job overhead; above it, the
    * distributed round loop runs. Both paths share [[applyMerge]] and
    * the total tie-break, so they produce IDENTICAL merge lists
    * (asserted in BpeSpec).
    */
  def learnMerges(hist: DataFrame, nMerges: Int,
                  itersPerCut: Int = 16,
                  driverMaxTypes: Long = 200000L): Seq[(String, String)] = {
    require(nMerges >= 1, "bpe: nMerges >= 1")
    if (hist.count() <= driverMaxTypes) {
      val local = hist.select(col("word"), col("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      learnMergesLocal(local, nMerges)
    } else learnMergesDistributed(hist, nMerges, itersPerCut)
  }

  /** Driver-local learner for small type tables — the same algorithm,
    * O(types × avg word length) per round in memory.
    */
  private[operators] def learnMergesLocal(hist: Array[(String, Long)],
                                          nMerges: Int): Seq[(String, String)] = {
    var types: Array[(Array[String], Long)] =
      hist.map { case (w, c) => (w.split(""), c) }
    val merges = ArrayBuffer[(String, String)]()
    var done = false
    for (_ <- 1 to nMerges if !done) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      for ((syms, c) <- types; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        counts(k) = counts.getOrElse(k, 0L) + c
      }
      if (counts.isEmpty) done = true
      else {
        // total order: count desc, then left/right lexicographic — the
        // exact tie-break of the distributed argmax
        val (l, r) = counts.toSeq.minBy { case ((pl, pr), c) => (-c, pl, pr) }._1
        merges += ((l, r))
        types = types.map { case (syms, c) =>
          (applyMerge(syms.toSeq, l, r).toArray, c) }
      }
    }
    merges.toSeq
  }

  /** The distributed round loop (type tables too big to collect). */
  private[operators] def learnMergesDistributed(hist: DataFrame, nMerges: Int,
                  itersPerCut: Int = 16): Seq[(String, String)] = {
    val spark = hist.sparkSession
    import spark.implicits._
    var types = initialTypes(hist).persist(StorageLevel.MEMORY_AND_DISK)
    // each round's argmax is the action that materializes the current
    // snapshot's cache — the PARENT snapshot is released right after it
    // (no extra forcing count job per round)
    var release: () => Unit = { val t = types; () => { t.unpersist(false); () } }
    var releaseParent: () => Unit = () => ()
    val merges = ArrayBuffer[(String, String)]()
    var done = false
    for (i <- 1 to nMerges if !done) {
      val top = pairCounts(types)
        .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
        .limit(1).collect()
      releaseParent(); releaseParent = () => ()
      if (top.isEmpty) done = true // alphabet exhausted (tiny corpora)
      else {
        val (l, r) = (top(0).getString(0), top(0).getString(1))
        merges += ((l, r))
        val next = types.map { case (syms, c) => (applyMerge(syms, l, r), c) }
        if (i % itersPerCut == 0 && i < nMerges) {
          // lineage cut: persisted-RDD round-trip bounds the plan depth;
          // the count forces it so every predecessor can go now
          val rdd = next.rdd.persist(StorageLevel.MEMORY_AND_DISK)
          rdd.count()
          release(); releaseParent = () => ()
          types = spark.createDataset(rdd)
          release = () => { rdd.unpersist(false); () }
        } else {
          val cached = next.persist(StorageLevel.MEMORY_AND_DISK)
          releaseParent = release
          types = cached
          release = () => { cached.unpersist(false); () }
        }
      }
    }
    releaseParent(); release()
    merges.toSeq
  }

  /** Encode one word by replaying merges in rank order (exactly the
    * training sequence, so train/encode segmentations agree).
    */
  def encode(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms: Seq[String] = word.split("").toSeq
    val rank = merges.zipWithIndex.toMap
    var changed = true
    while (changed && syms.length > 1) {
      // lowest-rank pair present, merged everywhere it occurs
      var best = -1
      var bestPair: (String, String) = null
      var i = 0
      while (i < syms.length - 1) {
        rank.get((syms(i), syms(i + 1))) match {
          case Some(k) if best == -1 || k < best => best = k; bestPair = (syms(i), syms(i + 1))
          case _ => ()
        }
        i += 1
      }
      if (best == -1) changed = false
      else syms = applyMerge(syms, bestPair._1, bestPair._2)
    }
    syms
  }

  /** Word-type → pieces table for a learned merge list: (word,
    * n_pieces, pieces). The merge list broadcasts with the closure
    * (O(nMerges) strings); each word type is encoded once, narrowly —
    * per-document tokenization then joins THIS table on the word,
    * never re-encoding per occurrence.
    */
  def encodeTypes(hist: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    import hist.sparkSession.implicits._
    val ms = merges.toIndexedSeq
    hist.select(col("word")).as[String]
      .map { w => val p = encode(w, ms); (w, p.length.toLong, p) }
      .toDF("word", "n_pieces", "pieces")
  }
}
